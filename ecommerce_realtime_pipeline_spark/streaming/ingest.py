"""Streaming ingest → validate → upsert (SURVEY §2.7, S4–S6, R3–R4,
R19).

The reference's declared consume path: poll Kafka, JSON-decode, land
raw payloads idempotently (UNIQUE(topic_partition, topic_offset) —
``sql/init/02_create_tables.sql:16``), normalize into entity tables
keyed by UUID (compacted customers topic ⇒ last-write-wins), track
offsets + processing stats in monitoring tables (:125-141). Its
consumer modules are empty stubs — this is the declared contract
implemented Spark-first:

- **Source**: ``readStream`` over a file directory of envelope JSON
  (swap ``format("kafka")`` + the same downstream graph for a real
  broker; the envelope columns mirror Kafka's partition/offset/key).
- **Exactly-once landing (R3)**: ``withWatermark(consumed_at) +
  dropDuplicatesWithinWatermark`` on the envelope key — replayed
  offsets inside the watermark horizon are dropped with bounded state
  (the unbounded-retention UNIQUE constraint of the reference is
  bounded here by the watermark; checkpointing makes redelivery across
  restarts idempotent too).
- **Upsert sink (S6/R4)**: ``foreachBatch`` last-write-wins merge by
  entity key over a HASH-BUCKETED silver layout: silver lives as
  ``bucket=N`` parquet partitions on ``pmod(xxhash64(key), N_BUCKETS)``,
  and each micro-batch rewrites ONLY the buckets containing batch keys
  (partition pruning makes the read side touch only those directories
  too). Work per trigger is O(touched buckets), not O(table) — the
  plain-parquet equivalent of Delta/Iceberg MERGE file-skipping; a
  production deployment swaps in MERGE with the identical dedup logic.
- **Monitoring (R19/R18)**: a ``StreamingQueryListener`` captures
  per-batch progress in the ``processing_stats`` shape, and the batch
  hook maintains a ``consumer_offsets``-shaped parquet table of max
  landed offsets.

Scale stance: the streaming graph is identical at any scale — state
size is bounded by the watermark; the bucketed upsert rewrites only
key-touched buckets per trigger (raise ``N_BUCKETS`` with table size so
a bucket stays executor-memory-sized), and validation/normalization
reuse the batch operators unchanged (one code path, two execution
modes).
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from ecommerce_realtime_pipeline_spark import storage
from ecommerce_realtime_pipeline_spark.operators import normalize as N
from ecommerce_realtime_pipeline_spark.schemas import (
    CONSUMER_OFFSETS_SCHEMA,
    ENTITY_SCHEMAS,
    ORDER_ITEMS_TABLE_SCHEMA,
    PROCESSING_STATS_SCHEMA,
    RAW_ENVELOPE_SCHEMA,
    silver_schema,
)

ENVELOPE_KEY = N.ENVELOPE_KEY


def stream_envelopes(spark: SparkSession, source_dir: str) -> DataFrame:
    """S4: file-source stream of raw envelope JSON (one record per
    line). Explicit schema — never inference (strict-schema stance)."""
    return (
        spark.readStream.schema(RAW_ENVELOPE_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .json(source_dir)
    )


def start_available_now(frame: DataFrame, checkpoint_dir: str, sink):
    """Start ``frame`` as an availableNow query checkpointed at
    ``checkpoint_dir`` — the package's one streaming start path.
    ``sink`` is either a foreachBatch handler ``(batch_df, epoch_id)``
    or a parquet directory the query appends its rows to. availableNow
    drains the files present at start, then terminates; the checkpoint
    makes the next run pick up only newer files."""
    writer = frame.writeStream.option("checkpointLocation", checkpoint_dir).trigger(
        availableNow=True
    )
    if callable(sink):
        return writer.foreachBatch(sink).start()
    return writer.format("parquet").option("path", sink).outputMode("append").start()


def parse_events(raw: DataFrame) -> DataFrame:
    """The events-topic payload of an envelope stream as typed columns,
    with ``timestamp`` renamed to ``event_time``."""
    return (
        raw.select(F.from_json("payload", ENTITY_SCHEMAS["events"]).alias("_p"))
        .select("_p.*")
        .withColumnRenamed("timestamp", "event_time")
    )


def deduped_stream(raw: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """R3 streaming exactly-once: offset dedup with bounded state."""
    return raw.withWatermark("consumed_at", watermark).dropDuplicatesWithinWatermark(
        ENVELOPE_KEY
    )


#: Silver bucket count — a layout property of silver, read by every
#: writer and maintainer, never a per-call option (a caller with another
#: count would route keys to the wrong bucket or skip buckets). 16
#: suffices for test scale; at 100 TB raise it (e.g. 4096) so one
#: bucket ≈ one executor-memory-sized rewrite unit.
N_BUCKETS = 16


def bucket_of(id_col: str):
    """Deterministic bucket assignment: ``pmod(xxhash64(key), N_BUCKETS)``.
    Children bucketed by the parent key land in the parent's bucket, so
    per-bucket maintenance of order_items never crosses buckets."""
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(N_BUCKETS)).cast("int")


def read_bucketed(spark: SparkSession, path: str, entity: str) -> DataFrame:
    """Read the bucketed silver table of ``entity`` (or ``order_items``)
    with its declared schema, ``bucket`` discovered from the path."""
    schema = (
        ORDER_ITEMS_TABLE_SCHEMA if entity == "order_items" else silver_schema(entity)
    )
    return storage.read_parquet(spark, path, schema)


def read_silver(spark: SparkSession, path: str, entity: str | None = None) -> DataFrame:
    """Read a bucketed silver table without the internal ``bucket``
    partition column (the user-facing schema). With ``entity`` the read
    uses the declared schema; without it, the schema memoized for the
    directory's current version."""
    if entity is None:
        df = storage.read_parquet(spark, path)
    else:
        df = read_bucketed(spark, path, entity)
    return df.drop("bucket") if "bucket" in df.columns else df


def upsert_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    entity: str,
    silver_path: str,
) -> list[int]:
    """S6/R4 foreachBatch hook: parse the envelope batch, merge with the
    touched buckets of the existing silver snapshot, keep the newest row
    per entity key (per-entity order column — events order by their
    immutable ``timestamp``). Only buckets containing batch keys are
    read (partition pruning) and rewritten — O(touched), not O(table).
    Re-running the same epoch (failure replay) converges to the same
    snapshot — idempotent. Returns the touched bucket ids."""
    typed, _bad = N.parse_envelope(batch_df, entity)
    id_field = ENTITY_SCHEMAS[entity].fields[0].name
    typed = typed.withColumn("bucket", bucket_of(id_field))
    touched = sorted(
        r["bucket"] for r in typed.select("bucket").distinct().collect()
    )
    if not touched:
        return []
    if os.path.exists(silver_path):
        current = read_bucketed(spark, silver_path, entity).filter(
            F.col("bucket").isin(touched)
        )
        merged = current.unionByName(typed, allowMissingColumns=True)
    else:
        merged = typed
    latest = N.latest_by_key(merged, id_field, N.ORDER_COLS[entity])
    storage.swap_dir(N.stamp_audit(latest), silver_path, touched)
    return touched


def compact_buckets(spark: SparkSession, silver_path: str) -> dict[int, tuple[int, int]]:
    """Small-files maintenance for the bucketed silver layout: after
    many triggers a bucket directory holds one part-file per writing
    task; this pass rewrites each FRAGMENTED bucket (≥2 files) to a
    single file and leaves single-file buckets untouched byte-for-byte
    (the upsert's per-bucket ``storage.swap_dir``, after a
    ``storage.recover`` of an interrupted swap). Pure layout change —
    row content is identical, which the tests assert.
    `repartition("bucket")` puts every row of a
    bucket in exactly one task, so the rewrite emits exactly one file
    per bucket directory. The read keeps the files' own schema, memoized
    for the directory's version: every bucket swap renames entries of
    the table directory, which moves its mtime.

    Returns {bucket: (files_before, files_after)} for the compacted
    buckets. At 100 TB this is the scheduled maintenance job every
    streaming table needs (the parquet analogue of Delta OPTIMIZE);
    run it off the write path — the swap is per-bucket atomic."""
    storage.recover(silver_path)
    report: dict[int, tuple[int, int]] = {}
    frag: list[int] = []
    for b in range(N_BUCKETS):
        d = os.path.join(silver_path, f"bucket={b}")
        if not os.path.isdir(d):
            continue
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        if len(files) > 1:
            frag.append(b)
            report[b] = (len(files), 1)
    if not frag:
        return report
    df = (
        storage.read_parquet(spark, silver_path)
        .filter(F.col("bucket").isin(frag))
        .repartition("bucket")
    )
    storage.swap_dir(df, silver_path, frag)
    return report


def cdc_refresh_buckets(
    spark: SparkSession,
    old_path: str,
    new_path: str,
    entity: str,
    touched: list[int],
    group_col: str,
    sum_col: str,
    prev_agg: DataFrame,
) -> DataFrame:
    """The bucketed-silver CDC loop, END TO END: diff two snapshots of
    a bucketed silver table READING ONLY THE TOUCHED BUCKETS (the
    ``bucket`` filter partition-prunes both scans — SCALE.md's "run it
    per bucket at scale" realized, not just stated), then refresh a
    per-group (count, sum) aggregate from the change feed alone via
    the shared retract/add kernel.

    Correct on pruned reads by construction: the bucket id is a pure
    function of the entity key, so every diff key's pre- AND post-image
    rows live inside ``touched`` — rows of untouched buckets are
    unchanged (the upsert never rewrote their directories; byte-identity
    asserted in tests) and contribute zero delta. The upsert itself
    returns ``touched`` (``upsert_batch``), so no discovery scan is
    needed.

    Cost at 100 TB: |touched buckets| of I/O for the diff + |diff| rows
    of value lookups + a |groups|-row merge — never O(table). Audit /
    envelope columns are excluded from the fingerprint (they carry
    wall-clock and would mark every row 'updated').

    Returns the refreshed aggregate (group_col, n_rows, sum_val)."""
    cols = [f.name for f in ENTITY_SCHEMAS[entity].fields]
    key = cols[0]

    def pruned(path: str) -> DataFrame:
        return (
            read_bucketed(spark, path, entity)
            .filter(F.col("bucket").isin(touched))
            .select(*cols)
        )

    old_b, new_b = pruned(old_path), pruned(new_path)
    diff = N.snapshot_diff(old_b, new_b, [key])
    delta = N.cdc_delta(old_b, new_b, diff, [key], group_col, sum_col)
    return N.merge_agg_delta(prev_agg, delta, group_col)


def record_offsets(
    spark: SparkSession, batch_df: DataFrame, offsets_path: str, group: str = "engine"
) -> None:
    """R19 consumer_offsets equivalent: max landed offset per
    (topic, partition), merged across batches."""
    batch_offsets = batch_df.groupBy("topic", "topic_partition").agg(
        F.max("topic_offset").alias("offset_committed")
    )
    if os.path.exists(offsets_path):
        merged = (
            storage.read_parquet(spark, offsets_path, CONSUMER_OFFSETS_SCHEMA)
            .select(
                "topic",
                F.col("partition_id").alias("topic_partition"),
                "offset_committed",
            )
            .unionByName(batch_offsets)
            .groupBy("topic", "topic_partition")
            .agg(F.max("offset_committed").alias("offset_committed"))
        )
    else:
        merged = batch_offsets
    out = merged.select(
        "topic",
        F.col("topic_partition").alias("partition_id"),
        "offset_committed",
        F.lit(group).alias("consumer_group"),
        F.current_timestamp().alias("last_updated"),
    )
    storage.swap_dir(out, offsets_path)


class StatsListener(StreamingQueryListener):
    """R18/R19: captures per-batch progress rows in the
    ``processing_stats`` shape (reference 02_create_tables.sql:134-141);
    ``to_df``/``write`` persist them as the monitoring table."""

    def __init__(self, table_name: str = "silver"):
        from ecommerce_realtime_pipeline_spark.logging_config import get_logger

        self.table_name = table_name
        self.rows: list[tuple] = []
        self._lock = threading.Lock()
        self._log = get_logger(__name__).bind(
            component="ingest", table=table_name
        )

    def onQueryStarted(self, event):  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event):  # noqa: N802
        import datetime as _dt

        p = event.progress
        with self._lock:
            self.rows.append(
                (
                    self.table_name,
                    int(p.numInputRows),
                    0,  # records_failed: parse quarantine counted sink-side
                    _dt.datetime.now(_dt.timezone.utc),  # NOW() default (R10)
                    int(p.durationMs.get("triggerExecution", 0)),
                )
            )
        self._log.info(
            "batch_progress",
            records=int(p.numInputRows),
            duration_ms=int(p.durationMs.get("triggerExecution", 0)),
        )

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass

    def to_df(self, spark: SparkSession) -> DataFrame:
        with self._lock:
            rows = list(self.rows)
        return spark.createDataFrame(rows, PROCESSING_STATS_SCHEMA)


def windowed_event_counts(
    raw: DataFrame,
    entity: str = "events",
    window: str = "1 minute",
    watermark: str = "10 minutes",
) -> DataFrame:
    """§2.7 watermarked windowed aggregation — the streaming form of the
    orders-per-minute / events-per-minute KPI (R13) over the envelope
    stream: parse the payload, bound lateness with an EVENT-TIME
    watermark on the payload timestamp (not arrival time), tumbling
    per-(window, type) counts.

    Late data: rows later than the watermark horizon are dropped by the
    state store — this intentionally diverges from the reference, whose
    Postgres upserts accept unbounded lateness (SURVEY §2.7); bounded
    state is the price of streaming aggregation at 100 TB/day.

    Append-mode emits each window once, when the watermark passes its
    end — the exactly-once materialization of the KPI.
    """
    schema = ENTITY_SCHEMAS[entity]
    ts_field = "timestamp" if entity == "events" else "created_at"
    type_field = "event_type" if entity == "events" else "status"
    parsed = raw.withColumn("_p", F.from_json("payload", schema)).select(
        F.col(f"_p.{ts_field}").alias("event_time"),
        F.col(f"_p.{type_field}").alias("type"),
    )
    return (
        parsed.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window).alias("win"), "type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "type",
            "n",
        )
    )


def session_event_counts(
    raw: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """§2.7 session windows (streaming sessionization): per-customer
    event sessions that close after ``gap`` of event-time inactivity —
    the streaming counterpart of the batch lag/gap-flag sessionization
    KPI (plans/kpi.py). State per open session is bounded by the
    watermark; a session emits once, when the watermark passes its end.

    Skew note: a pathological hot customer concentrates one session's
    state on one task — same bound as the batch form; AQE skew-join
    handles the downstream joins, and the state store holds only
    (customer, window, count)."""
    return (
        parse_events(raw)
        .withWatermark("event_time", watermark)
        .groupBy(
            F.session_window("event_time", gap).alias("win"), "customer_id"
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "customer_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )


def run_session_counts(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
):
    """Run streaming sessionization over a file-envelope stream,
    appending closed sessions to parquet (exactly-once via checkpoint)."""
    counts = session_event_counts(stream_envelopes(spark, source_dir), gap, watermark)
    return start_available_now(counts, checkpoint_dir, sink_dir)


def run_windowed_counts(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    entity: str = "events",
    window: str = "1 minute",
    watermark: str = "10 minutes",
):
    """Run the windowed KPI over a file-envelope stream, appending
    closed windows to a parquet sink (exactly-once via checkpoint).
    availableNow semantics: one run drains current files; windows still
    inside the watermark stay in state for the next run."""
    counts = windowed_event_counts(
        stream_envelopes(spark, source_dir), entity, window, watermark
    )
    return start_available_now(counts, checkpoint_dir, sink_dir)


def run_ingest(
    spark: SparkSession,
    source_dir: str,
    entity: str,
    silver_path: str,
    checkpoint_dir: str,
    offsets_path: str | None = None,
    items_path: str | None = None,
    watermark: str = "10 minutes",
):
    """Wire the full ingest: stream → watermarked offset dedup →
    foreachBatch(upsert + offset bookkeeping). Returns the started
    availableNow query; callers await its termination.

    ``items_path`` (orders only): also maintain the normalized
    ``order_items`` child table (R11/R9) — re-derived from the TOUCHED
    silver buckets each batch so children always agree with the
    surviving (last-write-wins) order headers, mirroring the reference's
    ON DELETE CASCADE coupling (``02_create_tables.sql:103-106``).
    Items are bucketed by ``order_id`` with the same hash as the parent,
    so a touched order's children are always in the same-numbered
    bucket — the cascade rewrite is per-bucket too, never O(table).

    Before the stream starts, each table this query writes is recovered
    from a swap a crashed run left unfinished (``storage.recover``); the
    crashed epoch then replays onto the rolled-back tables."""
    for path in (silver_path, items_path, offsets_path):
        if path:
            storage.recover(path)
    stream = deduped_stream(stream_envelopes(spark, source_dir), watermark)

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        # availableNow appends a NO-DATA micro-batch whenever a
        # watermark advance may evict state (dropDuplicatesWithinWatermark
        # here) — zero rows, but it would still pay the full upsert pass
        # (envelope parse + touched-bucket collect + swap write) plus an
        # offsets-ledger rewrite (~0.5-1 s of fixed job cost per run,
        # measured). An empty batch cannot change silver, items, or the
        # committed offsets, so skip it after one limit-1 probe; replay
        # of an empty epoch is trivially idempotent. The skipped rewrite
        # is not a no-op: it would have advanced ``last_updated``, so the
        # ledger's age now measures data progress, not consumer liveness
        # (see ``monitoring._offsets_check``).
        if batch_df.isEmpty():
            return
        touched = upsert_batch(spark, batch_df, entity, silver_path)
        if items_path and entity == "orders" and touched:
            silver = read_bucketed(spark, silver_path, entity).filter(
                F.col("bucket").isin(touched)
            )
            items = N.explode_order_items(silver.drop("bucket")).withColumn(
                "bucket", bucket_of("order_id")
            )
            storage.swap_dir(items, items_path, touched)
        if offsets_path:
            record_offsets(spark, batch_df, offsets_path)

    return start_available_now(stream, checkpoint_dir, handle)


def attribution_join_stream(
    raw: DataFrame,
    watermark: str = "10 minutes",
    range_sec: int = 3600,
    how: str = "inner",
) -> DataFrame:
    """§2.7 stream-stream interval join — the streaming form of the
    batch range-attribution query (plans/temporal.py): every purchase
    event joined to the same customer's click events in the strictly
    preceding ``range_sec`` window.

    Both sides carry an EVENT-TIME watermark and the join condition
    bounds their time distance, so Spark can size and evict the join
    state: a buffered click is dropped once the watermark passes
    ``click_time + range_sec`` (no unbounded state at 100 TB/day — the
    thing the naive "join two tables later" batch design can't give a
    live pipeline). Inner join (default): a match emits as soon as both
    rows have arrived; a click older than the watermark horizon on
    arrival never enters state and can never produce a late pair.
    ``how="leftOuter"`` additionally emits each UNMATCHED purchase with
    NULL click columns — but only once the click-side watermark passes
    the purchase time (no click can still arrive for it), i.e. at state
    eviction in a LATER micro-batch; the abandoned-journey feed every
    attribution pipeline also needs.
    """
    parsed = parse_events(raw)
    p = (
        parsed.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "customer_id",
            F.col("event_time").alias("p_time"),
        )
        .withWatermark("p_time", watermark)
    )
    c = (
        parsed.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("customer_id").alias("c_customer_id"),
            F.col("event_time").alias("c_time"),
        )
        .withWatermark("c_time", watermark)
    )
    return p.join(
        c,
        F.expr(
            f"customer_id = c_customer_id "
            f"AND c_time >= p_time - INTERVAL {int(range_sec)} SECOND "
            f"AND c_time < p_time"
        ),
        how,
    ).select(
        "purchase_id",
        "customer_id",
        F.unix_micros("p_time").alias("purchase_us"),
        "click_id",
        F.unix_micros("c_time").alias("click_us"),
    )


def run_attribution_join(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
    range_sec: int = 3600,
    how: str = "inner",
):
    """Run the stream-stream attribution join over a file-envelope
    stream, appending matched pairs to a parquet sink (exactly-once via
    checkpoint; availableNow drains current files per run)."""
    pairs = attribution_join_stream(
        stream_envelopes(spark, source_dir), watermark, range_sec, how
    )
    return start_available_now(pairs, checkpoint_dir, sink_dir)


def run_dim_enrichment(
    spark: SparkSession,
    source_dir: str,
    dim_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
):
    """Stream-to-STATIC broadcast enrichment — the stateless
    bread-and-butter streaming join (every purchase decorated with its
    customer's current dim row). The static side is a FRESH read plan
    per call, so each availableNow run snapshots the dim directory as
    of run start: a dim overwrite between runs is visible to all later
    batches (SCD "current view" semantics — the contract the fixture
    pins), while within one run the snapshot is stable. LEFT join:
    unknown customers pass through with NULL dim columns instead of
    silently dropping revenue events.

    Scale: the join is stateless (no watermark state; purchases never
    buffer), and the dim side broadcasts — at 100 TB/day of stream the
    dim is the small side by definition; a dim too big to broadcast
    becomes a shuffled stream-static join with the identical plan
    shape."""
    parsed = parse_events(stream_envelopes(spark, source_dir)).select(
        F.col("event_id").alias("purchase_id"), "customer_id"
    )
    dim = F.broadcast(storage.read_parquet(spark, dim_dir))
    enriched = parsed.join(dim, "customer_id", "left").select(
        "purchase_id", "customer_id", "segment"
    )
    return start_available_now(enriched, checkpoint_dir, sink_dir)

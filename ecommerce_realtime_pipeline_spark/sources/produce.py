"""Producer / publish path (SURVEY §2.1 S1–S3).

The reference publishes entities as JSON bytes keyed by the entity id,
with per-entity topic routing and an eager ``compute_total()`` on
orders before publish (``src/data_generator/producer.py:105-235``).
Spark-first mapping: an entity DataFrame becomes an **envelope**
DataFrame ``(topic, key, value)`` via ``to_json(struct(...))`` — the
exact shape ``df.write.format("kafka")`` consumes — and "publish" is
one distributed write, not a per-record loop.

What intentionally does NOT carry over: the reference's retry/backoff
on local queue full and its delivery callbacks
(``producer.py:105-148``) are client-buffer mechanics of a per-record
librdkafka producer. In Spark the writer task IS the delivery unit —
task retry + sink transactionality (checkpointed epochs for streams,
job commit for batch) subsume them; per-record backoff would be
driver-side looping, the anti-pattern.

No broker runs in this container, so ``write_topic`` lands envelopes
as JSON-lines files under ``<dir>/<topic>/`` — the same envelope rows
``streaming.ingest.stream_envelopes`` consumes, which closes the
produce→consume loop end-to-end in tests. ``kafka_writer_options``
documents the real-broker config (acks/idempotence/compression,
``producer.py:68-77``) for deployments with a broker.

Scale stance: envelope construction is a pure projection (no shuffle).
Partition assignment is ``pmod(xxhash64(key), n)`` — the shape of
Kafka's default hash partitioner, deterministic per key. Offset
assignment (broker-side in Kafka) is a per-partition ``row_number``
for the file stand-in: one shuffle on the partition id, proportional
to the published batch, not to history.
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass
from functools import partial

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark.catalog import order_total
from ecommerce_realtime_pipeline_spark.operators import generate as G
from ecommerce_realtime_pipeline_spark.schemas import ENTITY_SCHEMAS
from ecommerce_realtime_pipeline_spark.session import overlapped
from ecommerce_realtime_pipeline_spark.settings import Settings

@dataclass
class ProducerMetrics:
    """The reference's in-memory publish counters
    (``producer.py:41-51``): messages, payload bytes, errors. Here the
    counts ride the write job itself via ``DataFrame.observe`` — no
    second scan of the envelopes."""

    produced_messages: int = 0
    produced_bytes: int = 0
    errors: int = 0

    def record(self, n_messages: int, n_bytes: int) -> None:
        self.produced_messages += n_messages
        self.produced_bytes += n_bytes


# entity → (id column, Settings topic attribute) — producer.py:153-181
ENTITY_ROUTING: dict[str, tuple[str, str]] = {
    "products": ("product_id", "topic_products"),
    "customers": ("customer_id", "topic_customers"),
    "orders": ("order_id", "topic_orders"),
    "events": ("event_id", "topic_events"),
}


def kafka_writer_options(settings: Settings) -> dict[str, str]:
    """The reference producer's delivery configuration
    (``producer.py:68-77``) translated to Spark kafka-sink options; used
    only when a broker is configured."""
    return {
        "kafka.bootstrap.servers": settings.kafka_bootstrap_servers,
        "kafka.acks": "all",
        "kafka.enable.idempotence": "true",
        "kafka.compression.type": "lz4",
        "kafka.linger.ms": "5",
    }


def entity_topic(entity: str, settings: Settings | None = None) -> str:
    settings = settings or Settings()
    return getattr(settings, ENTITY_ROUTING[entity][1])


def force_order_totals(orders: DataFrame) -> DataFrame:
    """S2: ``produce_order`` recomputes the header total from the items
    before publish (``producer.py:169-176``) so downstream consumers
    never see a stale total."""
    return orders.withColumn("total", order_total("items"))


def to_envelope(df: DataFrame, entity: str, settings: Settings | None = None) -> DataFrame:
    """S1/S2: entity rows → ``(topic, key, value)`` publish envelopes.

    ``value`` is the JSON of exactly the entity's declared payload
    fields (strict schema — the same StructType ``from_json`` parses on
    the consume side, so produce→consume round-trips losslessly).
    Orders get their total recomputed first (S2 contract).
    """
    if entity not in ENTITY_ROUTING:
        raise KeyError(f"unknown entity: {entity}")
    if entity == "orders":
        df = force_order_totals(df)
    id_col = ENTITY_ROUTING[entity][0]
    payload_cols = [f.name for f in ENTITY_SCHEMAS[entity].fields]
    return df.select(
        F.lit(entity_topic(entity, settings)).alias("topic"),
        F.col(id_col).alias("key"),
        F.to_json(F.struct(*payload_cols)).alias("value"),
    )


def assign_partitions_offsets(
    envelopes: DataFrame, n_partitions: int = 4, base_offset: int = 0
) -> DataFrame:
    """Broker-side bookkeeping for the file-topic stand-in: partition =
    hash(key) mod n (Kafka default-partitioner shape, deterministic per
    key), offset = dense per-partition sequence ordered by key (a
    deterministic stand-in for arrival order)."""
    part = F.pmod(F.xxhash64("key"), F.lit(n_partitions)).cast("int")
    with_part = envelopes.withColumn("topic_partition", part)
    rn = F.row_number().over(
        Window.partitionBy("topic", "topic_partition").orderBy("key")
    )
    return with_part.withColumn(
        "topic_offset", (rn + F.lit(base_offset - 1)).cast("long")
    )


def write_topic(
    envelopes: DataFrame,
    topics_dir: str,
    n_partitions: int = 4,
    base_offset: int = 0,
) -> tuple[int, int]:
    """S1 sink (file stand-in): land envelopes as JSON-lines under
    ``<topics_dir>/<topic>/`` in the RAW_ENVELOPE_SCHEMA shape that
    ``streaming.ingest.stream_envelopes`` reads. With a real broker,
    replace with ``.write.format("kafka").options(**kafka_writer_options)``
    on the (topic, key, value) frame and drop the bookkeeping columns —
    the broker assigns partition/offset.

    ONE distributed write for any number of topics: the job partitions
    by a topic-directory column (the ``topic`` payload field itself is
    preserved inside the JSON), then the finished files are moved from
    the ``_t=<topic>`` staging dirs into the per-topic layout — a
    constant number of driver-side renames, never a per-topic rescan.
    Returns (n_messages, n_payload_bytes), observed on the write job
    itself (no second scan)."""
    full = assign_partitions_offsets(envelopes, n_partitions, base_offset).select(
        "topic",
        "topic_partition",
        "topic_offset",
        F.col("key").alias("message_key"),
        F.col("value").alias("payload"),
        F.current_timestamp().alias("consumed_at"),
    )
    obs = Observation(f"produce_{uuid.uuid4().hex[:8]}")
    staged = full.observe(
        obs,
        F.count(F.lit(1)).alias("n_msgs"),
        F.coalesce(F.sum(F.length("payload")), F.lit(0)).alias("n_bytes"),
    ).withColumn("_t", F.col("topic"))
    stage_dir = os.path.join(topics_dir, f"__stage_{uuid.uuid4().hex[:8]}")
    staged.write.mode("overwrite").partitionBy("_t").json(stage_dir)
    for sub in os.listdir(stage_dir):
        if not sub.startswith("_t="):
            continue
        dest = os.path.join(topics_dir, sub[len("_t=") :])
        os.makedirs(dest, exist_ok=True)
        src_sub = os.path.join(stage_dir, sub)
        for name in os.listdir(src_sub):
            os.rename(os.path.join(src_sub, name), os.path.join(dest, name))
    shutil.rmtree(stage_dir, ignore_errors=True)
    got = obs.get
    return int(got["n_msgs"]), int(got["n_bytes"])


def produce_batch(
    spark: SparkSession,
    topics_dir: str,
    product_count: int | None = None,
    customer_count: int | None = None,
    order_count: int | None = None,
    event_count: int | None = None,
    seed: int = 42,
    corruption_enabled: bool = False,
    settings: Settings | None = None,
    n_partitions: int = 4,
    base_offset: int = 0,
    metrics: ProducerMetrics | None = None,
    entities: tuple[str, ...] | None = None,
) -> dict[str, int]:
    """S3: generate a seeded synthetic batch and publish all four entity
    sets (``producer.py:186-235``). Counts default to the settings batch
    shape (reference CLI defaults 5/5/10/25, ``producer.py:268-271``).
    Returns per-topic published counts; pass ``metrics`` to accumulate
    ProducerMetrics (messages/bytes observed on the write jobs, errors
    counted per failed entity publish — ``producer.py:41-51``). The
    batch write is synchronous — ``flush=True`` semantics are inherent.
    ``base_offset`` offsets the file-topic bookkeeping so repeated
    publishes get non-overlapping offsets (broker parity for
    ``--repeat``). ``entities`` restricts WHICH entity sets publish
    (default all four) — a zero-count entity still costs a write job
    for its empty topic file, so single-entity callers (fixtures,
    per-topic backfills) name just the topics they need."""
    settings = settings or Settings()
    batch = G.generate_batch(
        spark,
        settings.default_products if product_count is None else product_count,
        settings.default_customers if customer_count is None else customer_count,
        settings.default_orders if order_count is None else order_count,
        settings.default_events if event_count is None else event_count,
        seed=seed,
        corruption_enabled=corruption_enabled,
        settings=settings,
    ).drop_indexes().materialize()
    selected = [
        (entity, df)
        for entity, df in (
            ("products", batch.products),
            ("customers", batch.customers),
            ("orders", batch.orders),
            ("events", batch.events),
        )
        if entities is None or entity in entities
    ]

    # The per-entity publishes are independent write jobs (disjoint
    # topic dirs, private uuid stage dirs) — submit them from a small
    # thread pool so one topic's commit tail back-fills with the next
    # topic's tasks (guide §2.6). Outcomes are folded back in the
    # ORIGINAL entity order, so counts ordering, metrics accumulation
    # order, and which error surfaces first are byte-identical to a
    # sequential loop's.
    def _publish(entity: str, df: "DataFrame"):
        env = to_envelope(df, entity, settings)
        try:
            return entity, write_topic(
                env, topics_dir, n_partitions=n_partitions, base_offset=base_offset
            ), None
        except Exception as exc:  # folded below, order-preserving
            return entity, None, exc

    outcomes = overlapped(*(partial(_publish, *item) for item in selected))

    counts: dict[str, int] = {}
    for entity, ok, exc in outcomes:
        if exc is not None:
            if metrics is None:
                raise exc
            metrics.errors += 1
            continue
        n_msgs, n_bytes = ok
        counts[entity_topic(entity, settings)] = n_msgs
        if metrics is not None:
            metrics.record(n_msgs, n_bytes)
    return counts


def build_cli_parser():
    """Argument surface mirroring the reference CLI
    (``producer.py:266-291``): batch shape, seed, corruption, plus
    ``--repeat``/``--sleep`` for sustained publishing."""
    import argparse

    parser = argparse.ArgumentParser(description="Produce a synthetic batch")
    parser.add_argument("--topics-dir", required=True)
    parser.add_argument("--products", type=int, default=None)
    parser.add_argument("--customers", type=int, default=None)
    parser.add_argument("--orders", type=int, default=None)
    parser.add_argument("--events", type=int, default=None)
    parser.add_argument("--seed", type=int, default=42)
    parser.add_argument("--corrupt", action="store_true")
    parser.add_argument(
        "--repeat",
        type=int,
        default=1,
        help="Repeat the batch N times (metrics accumulate).",
    )
    parser.add_argument(
        "--sleep",
        type=float,
        default=0.0,
        help="Seconds to sleep between repeated batches.",
    )
    return parser


def run_cli(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    """The reference's producer CLI (``producer.py:266-316``) against
    the file-topic stand-in: ``python -m
    ecommerce_realtime_pipeline_spark.sources.produce --topics-dir /tmp/topics``.

    Prints the ProducerMetrics JSON summary (produced_messages,
    produced_bytes, errors) on stdout and exits 1 if any entity publish
    errored — the reference's exact contract (``producer.py:306-316``).
    Repeats advance ``base_offset`` by the prior message total so the
    file-topic offsets never collide (what a broker does natively)."""
    import json
    import time

    from ecommerce_realtime_pipeline_spark.logging_config import (
        configure_logging,
        get_logger,
    )

    args = build_cli_parser().parse_args(argv)
    settings = Settings()
    configure_logging(settings)
    log = get_logger(__name__, settings).bind(component="producer")
    if spark is None:
        from ecommerce_realtime_pipeline_spark.session import get_spark

        spark = get_spark("producer_cli")
    metrics = ProducerMetrics()
    for i in range(args.repeat):
        if i > 0 and args.sleep > 0:
            time.sleep(args.sleep)
        counts = produce_batch(
            spark,
            args.topics_dir,
            product_count=args.products,
            customer_count=args.customers,
            order_count=args.orders,
            event_count=args.events,
            seed=args.seed,
            corruption_enabled=args.corrupt,
            settings=settings,
            base_offset=metrics.produced_messages,
            metrics=metrics,
        )
        log.info("batch_produced", repeat=i + 1, of=args.repeat, counts=counts)
    if metrics.errors:
        log.error("produce_errors", errors=metrics.errors)
    print(
        json.dumps(
            {
                "produced_messages": metrics.produced_messages,
                "produced_bytes": metrics.produced_bytes,
                "errors": metrics.errors,
            },
            indent=2,
        )
    )
    return 0 if metrics.errors == 0 else 1


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(run_cli())

"""Producer-path tests (SURVEY §2.1 S1–S3): envelope round-trip,
forced order totals, broker-bookkeeping determinism, and the full
produce→ingest loop (mirrors the reference's
tests/integration/test_producer_integration.py intent)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark.catalog import order_total
from ecommerce_realtime_pipeline_spark.operators import generate as G
from ecommerce_realtime_pipeline_spark.operators.corruptions import corrupt_orders
from ecommerce_realtime_pipeline_spark.schemas import CUSTOMER_SCHEMA
from ecommerce_realtime_pipeline_spark.settings import Settings
from ecommerce_realtime_pipeline_spark.sources import produce as P
from ecommerce_realtime_pipeline_spark.streaming import ingest as I


@pytest.fixture(scope="module")
def batch(spark):
    return G.generate_batch(spark, 20, 20, 20, 20, seed=7).drop_indexes().materialize()


def test_envelope_roundtrip_lossless(spark, batch):
    """value = strict JSON of the payload: from_json(to_json(x)) == x."""
    env = P.to_envelope(batch.customers, "customers")
    back = env.select(
        "key", F.from_json("value", CUSTOMER_SCHEMA).alias("p")
    ).select("key", "p.*")
    orig = {r["customer_id"]: r for r in batch.customers.collect()}
    got = {r["customer_id"]: r for r in back.collect()}
    assert set(got) == set(orig)
    for cid, r in got.items():
        assert r["key"] == cid  # keyed by entity id (S1)
        assert r["email"] == orig[cid]["email"]
        assert r["created_at"] == orig[cid]["created_at"]


def test_topic_routing_respects_settings(spark, batch):
    s = Settings(topic_customers="customers.v2")
    env = P.to_envelope(batch.customers, "customers", s)
    assert env.select("topic").distinct().collect()[0][0] == "customers.v2"


def test_force_totals_repairs_corrupted_header(spark, batch):
    """S2: produce_order recomputes the total, so a negative_total
    corruption never reaches the wire (reference produce_order calls
    compute_total unconditionally)."""
    bad = corrupt_orders(batch.orders, rate=1.0, corruption="negative_total")
    assert bad.filter(F.col("total") < 0).count() > 0  # corruption landed
    env = P.to_envelope(bad, "orders")
    from ecommerce_realtime_pipeline_spark.schemas import ORDER_SCHEMA

    back = env.select(F.from_json("value", ORDER_SCHEMA).alias("p")).select("p.*")
    assert back.filter(F.col("total") < 0).count() == 0
    mism = back.withColumn("_rt", order_total("items")).filter(
        F.col("total") != F.col("_rt")
    )
    assert mism.count() == 0


def test_partition_offset_assignment(spark, batch):
    env = P.assign_partitions_offsets(P.to_envelope(batch.events, "events"), 4)
    rows = env.select("topic_partition", "topic_offset").collect()
    parts = {r["topic_partition"] for r in rows}
    assert parts <= {0, 1, 2, 3}
    # offsets dense from 0 within each partition (broker semantics)
    by_part: dict[int, list[int]] = {}
    for r in rows:
        by_part.setdefault(r["topic_partition"], []).append(r["topic_offset"])
    for offs in by_part.values():
        assert sorted(offs) == list(range(len(offs)))


def test_produce_then_ingest_e2e(spark, tmp_path):
    """The full loop: S3 publish → S4-S6 streaming ingest → silver
    equals the generated entity set."""
    topics = str(tmp_path / "topics")
    counts = P.produce_batch(
        spark, topics, customer_count=25, seed=11, n_partitions=2
    )
    assert counts["customers"] == 25
    q = I.run_ingest(
        spark,
        f"{topics}/customers",
        "customers",
        str(tmp_path / "silver"),
        str(tmp_path / "ckpt"),
        offsets_path=str(tmp_path / "offsets"),
    )
    q.awaitTermination(120)
    silver = spark.read.parquet(str(tmp_path / "silver"))
    gen_customers = (
        G.generate_batch(spark, 0, 25, 0, 0, seed=11).drop_indexes().customers
    )
    assert silver.count() == 25
    got = {(r["customer_id"], r["email"]) for r in silver.collect()}
    want = {(r["customer_id"], r["email"]) for r in gen_customers.collect()}
    assert got == want
    # R19 bookkeeping reflects the published offsets
    offs = spark.read.parquet(str(tmp_path / "offsets"))
    assert offs.count() <= 2  # one row per partition
    assert offs.agg(F.sum("offset_committed")).collect()[0][0] is not None


def test_produce_throughput_floor(spark, tmp_path):
    """BASELINE.md: the reference CI asserts > 100 msg/s for a
    1,000-message produce. Mirror the floor against the file-topic
    stand-in end-to-end (generate → envelope → land)."""
    import time

    t0 = time.time()
    counts = P.produce_batch(
        spark, str(tmp_path / "topics"), event_count=1000, customer_count=10, seed=3
    )
    elapsed = time.time() - t0
    n = sum(counts.values())
    assert n >= 1000
    assert n / elapsed > 100, f"{n / elapsed:.0f} msg/s under the 100 msg/s floor"


def test_write_topic_returns_observed_metrics(spark, batch, tmp_path):
    """write_topic is ONE distributed write for all topics; message and
    byte counts ride the job via observe (no second scan)."""
    env = P.to_envelope(batch.customers, "customers")
    n_msgs, n_bytes = P.write_topic(env, str(tmp_path / "topics"), n_partitions=2)
    assert n_msgs == 20
    expected_bytes = env.agg(F.sum(F.length("value"))).collect()[0][0]
    assert n_bytes == expected_bytes
    # layout preserved: JSON-lines under <dir>/<topic>/, topic field kept
    landed = spark.read.json(str(tmp_path / "topics" / "customers"))
    assert landed.count() == 20
    assert landed.filter(F.col("topic") != "customers").count() == 0
    # append semantics across publishes (offsets shifted by base_offset)
    P.write_topic(env, str(tmp_path / "topics"), n_partitions=2, base_offset=20)
    landed = spark.read.json(str(tmp_path / "topics" / "customers"))
    assert landed.count() == 40
    # no (partition, offset) collisions across the two publishes
    assert landed.select("topic_partition", "topic_offset").distinct().count() == 40


def test_cli_parser_repeat_sleep_defaults():
    """Mirror reference tests/unit/test_producer.py CLI contract:
    --repeat/--sleep exist with (1, 0.0) defaults."""
    args = P.build_cli_parser().parse_args(["--topics-dir", "/tmp/x"])
    assert args.repeat == 1 and args.sleep == 0.0 and args.seed == 42
    args = P.build_cli_parser().parse_args(
        ["--topics-dir", "/tmp/x", "--repeat", "3", "--sleep", "0.5", "--corrupt"]
    )
    assert args.repeat == 3 and args.sleep == 0.5 and args.corrupt


def _last_json_block(out: str):
    """The metrics summary is the final stdout JSON block (structured
    log lines precede it, as in the reference CLI)."""
    import json

    return json.loads(out[out.rindex('{\n  "produced_messages"') :])


def test_cli_metrics_summary_and_exit_code(spark, tmp_path, capsys, reset_root_logging):
    """run_cli prints the ProducerMetrics JSON (produced_messages,
    produced_bytes, errors) and returns 0 on success — the reference's
    stdout contract (producer.py:306-316)."""
    rc = P.run_cli(
        [
            "--topics-dir",
            str(tmp_path / "topics"),
            "--products", "2", "--customers", "2", "--orders", "2", "--events", "2",
            "--repeat", "2",
        ],
        spark=spark,
    )
    out = _last_json_block(capsys.readouterr().out)
    assert rc == 0
    assert set(out) == {"produced_messages", "produced_bytes", "errors"}
    assert out["produced_messages"] == 16  # 8 messages × 2 repeats
    assert out["produced_bytes"] > 0
    assert out["errors"] == 0
    # offsets advanced across repeats: no (topic, partition, offset) dupes
    landed = spark.read.json(str(tmp_path / "topics" / "orders"))
    assert landed.count() == 4
    assert (
        landed.select("topic_partition", "topic_offset").distinct().count() == 4
    )


def test_cli_exit_1_on_errors(
    spark, tmp_path, capsys, monkeypatch, reset_root_logging
):
    """Any failed entity publish → errors counted, exit code 1
    (reference producer.py:316)."""

    def boom(env, topics_dir, n_partitions=4, base_offset=0):
        raise RuntimeError("sink unavailable")

    monkeypatch.setattr(P, "write_topic", boom)
    rc = P.run_cli(["--topics-dir", str(tmp_path / "t"), "--customers", "1"], spark=spark)
    out = _last_json_block(capsys.readouterr().out)
    assert rc == 1
    assert out["errors"] == 4  # all four entity publishes failed
    assert out["produced_messages"] == 0


def test_kafka_writer_plan_smoke(spark, batch, tmp_path):
    """Broker-path smoke without a broker: the format('kafka') streaming
    writer accepts kafka_writer_options at plan-construction time, and
    the option keys match Spark's kafka-sink surface (kafka.-prefixed
    client configs + bootstrap servers). Catches option-name typos in
    CI; actual delivery needs a broker + the kafka-sql package."""
    s = Settings()
    opts = P.kafka_writer_options(s)
    assert opts["kafka.bootstrap.servers"] == s.kafka_bootstrap_servers
    for key in ("kafka.acks", "kafka.enable.idempotence", "kafka.compression.type"):
        assert key in opts, f"missing documented kafka option {key}"
    assert all(k.startswith("kafka.") for k in opts), "client configs need kafka. prefix"
    env = P.to_envelope(batch.customers, "customers")
    # the exact frame shape the kafka sink consumes
    wire = env.select(
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
        "topic",
    )
    writer = (
        wire.write.format("kafka")
        .options(**opts)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
    )
    assert writer is not None  # plan-construction (no .save() without a broker)


def test_orders_ingest_maintains_child_items(spark, tmp_path):
    """R11/R9 in the streaming path: order_items child table re-derived
    from the silver order snapshot with generated line_total."""
    topics = str(tmp_path / "topics")
    P.produce_batch(
        spark, topics, product_count=10, customer_count=5, order_count=15, seed=13
    )
    q = I.run_ingest(
        spark,
        f"{topics}/orders",
        "orders",
        str(tmp_path / "silver"),
        str(tmp_path / "ckpt"),
        items_path=str(tmp_path / "items"),
    )
    q.awaitTermination(120)
    silver = spark.read.parquet(str(tmp_path / "silver"))
    items = spark.read.parquet(str(tmp_path / "items"))
    n_expected = silver.agg(F.sum(F.size("items"))).collect()[0][0]
    assert items.count() == n_expected
    bad = items.filter(
        F.col("line_total")
        != F.bround(F.col("quantity").cast("decimal(18,2)") * F.col("unit_price"), 2)
    )
    assert bad.count() == 0
    # every child references a surviving order header (cascade coupling)
    orphans = items.join(silver.select("order_id"), "order_id", "left_anti")
    assert orphans.count() == 0

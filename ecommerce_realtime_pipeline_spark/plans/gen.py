"""Generator and data-quality contract queries (SURVEY §2.2–§2.3):
deterministic synthetic-batch generation, the producer's envelope
contract, the strict JSON-lines file source with its quarantine, and
the corruption engine's validate → quarantine loop, exposed through the
driver contract.

These ignore ``sf_dir`` (generation needs no input tables) and repeat
bit-for-bit across runs and partitionings (tests/test_generate.py).
Each query's ``ORACLES`` entry right after it is a literal: ANALYTIC
constants derivable on paper (the requested batch shape, zero orphans,
zero envelope violations, the quarantine of planted bad records, the
forced-rate corruption counts) or, for
``gen_corrupt_validate_metrics``, FROZEN golden counts of the seeded
corruption engine.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark.catalog import order_total
from ecommerce_realtime_pipeline_spark.operators import generate as G
from ecommerce_realtime_pipeline_spark.operators import validation as V
from ecommerce_realtime_pipeline_spark.plans import fixtures as FX
from ecommerce_realtime_pipeline_spark.schemas import ENTITY_SCHEMAS
from ecommerce_realtime_pipeline_spark.settings import Settings
from ecommerce_realtime_pipeline_spark.sources import filesrc as FS
from ecommerce_realtime_pipeline_spark.sources import produce as P

SEED = 42

#: query name -> DuckDB oracle SQL, one entry per query of this module
ORACLES: dict[str, str] = {}


def gen_batch_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7 contract row: batch counts + referential-coherence orphan
    counts (all zero by construction).

    Oracle-checked against ANALYTIC constants (ORACLES): the
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

ORACLES["gen_batch_shape"] = """
        SELECT CAST(10 AS BIGINT) AS n_products,
               CAST(10 AS BIGINT) AS n_customers,
               CAST(25 AS BIGINT) AS n_orders,
               CAST(50 AS BIGINT) AS n_events,
               CAST(0 AS BIGINT) AS orphan_orders,
               CAST(0 AS BIGINT) AS orphan_events,
               CAST(0 AS BIGINT) AS orphan_items
    """


def produce_envelopes_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1–S3 contract: publish envelopes for a seeded corrupted batch,
    verified per topic — message count, null keys (must be 0: every
    entity id is non-corruptible), payloads that fail a strict re-parse
    through the entity StructType (must be 0: produce→consume is
    lossless), and orders whose published total disagrees with the
    recomputed items total (must be 0: the S2 ``compute_total`` force
    repairs even a corrupted header before publish).

    Oracle-checked against the ANALYTIC contract constants
    (ORACLES): 50 messages per topic, zero violations of each kind
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
            parsed = parsed.withColumn("_rt", order_total(F.col("_p.items")))
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

ORACLES["produce_envelopes_shape"] = """
        SELECT topic,
               CAST(n AS BIGINT) AS n_msgs,
               CAST(0 AS BIGINT) AS n_null_keys,
               CAST(0 AS BIGINT) AS n_bad_payloads,
               CAST(0 AS BIGINT) AS n_total_mismatch
        FROM (VALUES ('customers', 50), ('events', 50),
                     ('orders', 50), ('products', 50)) AS t(topic, n)
        ORDER BY topic
    """


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
    with FX.scratch_dir("eng_filesrc_q_") as tmp:
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


# filesrc_quarantine_shape: ANALYTIC constants — 20 clean rows
# survive with values intact, the 3 planted bad records quarantine,
# and exactly the 2 parse failures carry raw text (derivation in
# the query docstring).
ORACLES["filesrc_quarantine_shape"] = """
        SELECT CAST(20 AS BIGINT) AS n_typed,
               CAST(1 AS BIGINT) AS emails_roundtrip,
               CAST(3 AS BIGINT) AS n_quarantined,
               CAST(2 AS BIGINT) AS n_quarantined_with_raw
    """


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

# gen_corrupt_validate_metrics: FROZEN-CONTRACT oracle (golden
# values): the per-rule quarantine counts are a deterministic
# function of the fixed seed (f(seed, row-id) randomness), already
# pinned bit-exactly by tests/test_corruptions.py — freezing them
# here upgrades the driver's check from rows-only to value-hash.
# Not paper-derivable like the analytic oracles above; any
# intentional change to the corruption engine re-freezes this.
ORACLES["gen_corrupt_validate_metrics"] = """
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
    """


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
    saved = {k: os.environ.get(k) for k in env_keys}
    try:
        os.environ.update(env_keys)
        settings = Settings()  # rates resolve from the env, not kwargs
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
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
ORACLES["gen_corrupt_rates_sweep"] = """
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

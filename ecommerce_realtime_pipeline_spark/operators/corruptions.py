"""Corruption / fault-injection operators (SURVEY §2.3 C1–C5).

Columnar Bernoulli-gated corruption mirroring the reference engine
(``src/data_generator/corruptions.py:49-122``): per-entity corruption
probability gates one uniformly-chosen corruption type per corrupted
row. Each corruption produces values that pass schema parsing but
violate the SQL-derived validation rules — i.e. this module exists to
exercise ``operators/validation.py``.

"Deleted field" corruptions (order.status, event.event_type —
``corruptions.py:85,100``) map to NULL: a JSON object without the key
parses to NULL under ``from_json``, and validation treats
null-in-required as the same violation class (SURVEY §7).

Scale stance: pure ``when(gate ∧ type=k, corrupted).otherwise(col)``
projections — no shuffle, no UDF, applied in one codegen pass per
entity. Gates are keyed off the entity id hash, so corruption is
deterministic per (seed, row) and partition-independent, like
generation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark.operators.generate import SyntheticBatch, choice, unit
from ecommerce_realtime_pipeline_spark.settings import Settings

PRODUCT_CORRUPTIONS = (
    "missing_name",
    "invalid_price",
    "missing_category",
    "negative_stock",
    "empty_description",
)
CUSTOMER_CORRUPTIONS = ("missing_email", "invalid_email", "missing_name")
ORDER_CORRUPTIONS = (
    "missing_customer_id",
    "empty_items",
    "invalid_status",
    "negative_total",
)
EVENT_CORRUPTIONS = ("missing_customer_id", "invalid_event_type")

def _null_str() -> Column:
    # built lazily: Column construction needs an active SparkContext
    return F.lit(None).cast("string")


def _gate_and_type(
    entity: str,
    id_col: str,
    rate: float,
    seed: int,
    types: tuple[str, ...],
    corruption: str | None = None,
) -> tuple[Column, Column]:
    """Bernoulli gate + corruption-type choice. An explicit
    ``corruption`` pins the type for every gated row (the reference's
    ``corrupt_x(obj, corruption=...)`` override, used by its
    post-condition tests)."""
    gate = unit(f"corrupt_gate_{entity}", seed, F.col(id_col)) < rate
    if corruption is not None:
        if corruption not in types:
            raise ValueError(f"unknown {entity} corruption: {corruption}")
        return gate, F.lit(corruption)
    return gate, choice(f"corrupt_type_{entity}", seed, types, F.col(id_col))


def corrupt_products(
    df: DataFrame, rate: float, seed: int = 42, corruption: str | None = None
) -> DataFrame:
    """C1 (corruptions.py:49-62)."""
    gate, ctype = _gate_and_type(
        "product", "product_id", rate, seed, PRODUCT_CORRUPTIONS, corruption
    )

    def hit(name: str) -> Column:
        return gate & (ctype == name)

    return (
        df.withColumn("name", F.when(hit("missing_name"), _null_str()).otherwise(F.col("name")))
        .withColumn(
            "price",
            F.when(hit("invalid_price"), -F.abs(F.col("price"))).otherwise(F.col("price")),
        )
        .withColumn(
            "category", F.when(hit("missing_category"), _null_str()).otherwise(F.col("category"))
        )
        .withColumn(
            "stock_quantity",
            F.when(hit("negative_stock"), -F.abs(F.col("stock_quantity"))).otherwise(
                F.col("stock_quantity")
            ),
        )
        .withColumn(
            "description",
            F.when(hit("empty_description"), F.lit("")).otherwise(F.col("description")),
        )
    )


def corrupt_customers(
    df: DataFrame, rate: float, seed: int = 42, corruption: str | None = None
) -> DataFrame:
    """C2 (corruptions.py:65-74)."""
    gate, ctype = _gate_and_type(
        "customer", "customer_id", rate, seed, CUSTOMER_CORRUPTIONS, corruption
    )

    def hit(name: str) -> Column:
        return gate & (ctype == name)

    return df.withColumn(
        "email",
        F.when(hit("missing_email"), _null_str())
        .when(hit("invalid_email"), F.lit("not-an-email"))
        .otherwise(F.col("email")),
    ).withColumn("name", F.when(hit("missing_name"), _null_str()).otherwise(F.col("name")))


def corrupt_orders(
    df: DataFrame, rate: float, seed: int = 42, corruption: str | None = None
) -> DataFrame:
    """C3 (corruptions.py:77-91): 'invalid_status' deletes the field →
    NULL; 'negative_total' falls back to -1.00 for a NULL total."""
    gate, ctype = _gate_and_type(
        "order", "order_id", rate, seed, ORDER_CORRUPTIONS, corruption
    )

    def hit(name: str) -> Column:
        return gate & (ctype == name)

    empty_items = F.array().cast(df.schema["items"].dataType)
    return (
        df.withColumn(
            "customer_id",
            F.when(hit("missing_customer_id"), _null_str()).otherwise(F.col("customer_id")),
        )
        .withColumn("items", F.when(hit("empty_items"), empty_items).otherwise(F.col("items")))
        .withColumn(
            "status",
            F.when(hit("invalid_status"), _null_str()).otherwise(F.col("status")),
        )
        .withColumn(
            "total",
            F.when(
                hit("negative_total"),
                F.coalesce(-F.abs(F.col("total")), F.lit(-1.00).cast("decimal(10,2)")),
            ).otherwise(F.col("total")),
        )
    )


def corrupt_events(
    df: DataFrame, rate: float, seed: int = 42, corruption: str | None = None
) -> DataFrame:
    """C4 (corruptions.py:94-101): 'invalid_event_type' deletes the
    field → NULL."""
    gate, ctype = _gate_and_type(
        "event", "event_id", rate, seed, EVENT_CORRUPTIONS, corruption
    )

    def hit(name: str) -> Column:
        return gate & (ctype == name)

    return df.withColumn(
        "customer_id",
        F.when(hit("missing_customer_id"), _null_str()).otherwise(F.col("customer_id")),
    ).withColumn(
        "event_type",
        F.when(hit("invalid_event_type"), _null_str()).otherwise(F.col("event_type")),
    )


def corrupt_batch(batch: SyntheticBatch, settings: Settings, seed: int = 42) -> SyntheticBatch:
    """C5 (corruptions.py:105-122): per-entity Bernoulli gates with
    settings-driven probabilities."""
    return SyntheticBatch(
        products=corrupt_products(batch.products, settings.corruption_product_rate, seed),
        customers=corrupt_customers(batch.customers, settings.corruption_customer_rate, seed),
        orders=corrupt_orders(batch.orders, settings.corruption_order_rate, seed),
        events=corrupt_events(batch.events, settings.corruption_event_rate, seed),
    )

"""Typed schemas for every engine table.

Mirrors the reference's strict Pydantic models
(``src/data_generator/schemas.py:12-110``, ``extra="forbid"``) and the
normalized SQL DDL (``sql/init/02_create_tables.sql:52-141``). In Spark
"strict" means: explicit StructType everywhere, ``from_json`` with a
declared schema (never inference), and parse failures routed to a
quarantine instead of silently dropped.

Money is DecimalType(10,2) at rest (DDL ``DECIMAL(10,2)``); the
reference's Python ``round(x, 2)`` is half-even → use ``F.bround`` for
arithmetic parity (SURVEY §7 hard parts).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Entity schemas (silver layer) — reference schemas.py:12-110
# ---------------------------------------------------------------------------

MONEY = T.DecimalType(10, 2)

PRODUCT_SCHEMA = T.StructType(
    [
        T.StructField("product_id", T.StringType(), False),
        T.StructField("name", T.StringType(), True),  # corruptible → null
        T.StructField("category", T.StringType(), True),
        T.StructField("price", MONEY, True),
        T.StructField("description", T.StringType(), True),
        T.StructField("stock_quantity", T.IntegerType(), True),
        T.StructField("created_at", T.TimestampType(), False),
        T.StructField("updated_at", T.TimestampType(), False),
    ]
)

CUSTOMER_SCHEMA = T.StructType(
    [
        T.StructField("customer_id", T.StringType(), False),
        T.StructField("email", T.StringType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("created_at", T.TimestampType(), False),
        T.StructField("updated_at", T.TimestampType(), False),
    ]
)

ORDER_ITEM_SCHEMA = T.StructType(
    [
        T.StructField("product_id", T.StringType(), False),
        T.StructField("quantity", T.IntegerType(), False),
        T.StructField("unit_price", MONEY, False),
    ]
)

ORDER_SCHEMA = T.StructType(
    [
        T.StructField("order_id", T.StringType(), False),
        T.StructField("customer_id", T.StringType(), True),
        T.StructField("items", T.ArrayType(ORDER_ITEM_SCHEMA), True),
        T.StructField("total", MONEY, True),
        T.StructField("status", T.StringType(), True),
        T.StructField("created_at", T.TimestampType(), False),
        T.StructField("updated_at", T.TimestampType(), False),
    ]
)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.StringType(), False),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("customer_id", T.StringType(), True),
        T.StructField("timestamp", T.TimestampType(), False),
    ]
)

# Normalized child table — DDL 02_create_tables.sql:93-109
ORDER_ITEMS_TABLE_SCHEMA = T.StructType(
    [
        T.StructField("order_id", T.StringType(), False),
        T.StructField("product_id", T.StringType(), False),
        T.StructField("quantity", T.IntegerType(), False),
        T.StructField("unit_price", MONEY, False),
        T.StructField("line_total", MONEY, False),  # generated column
    ]
)

# ---------------------------------------------------------------------------
# Raw envelope (bronze) — DDL 02_create_tables.sql:9-47
# ---------------------------------------------------------------------------

RAW_ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("topic", T.StringType(), False),
        T.StructField("topic_partition", T.IntegerType(), False),
        T.StructField("topic_offset", T.LongType(), False),
        T.StructField("message_key", T.StringType(), True),
        T.StructField("payload", T.StringType(), False),  # raw JSON string
        T.StructField("consumed_at", T.TimestampType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Monitoring — DDL 02_create_tables.sql:125-141
# ---------------------------------------------------------------------------

CONSUMER_OFFSETS_SCHEMA = T.StructType(
    [
        T.StructField("topic", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("offset_committed", T.LongType(), False),
        T.StructField("consumer_group", T.StringType(), False),
        T.StructField("last_updated", T.TimestampType(), False),
    ]
)

PROCESSING_STATS_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType(), False),
        T.StructField("records_processed", T.LongType(), False),
        T.StructField("records_failed", T.LongType(), False),
        T.StructField("batch_timestamp", T.TimestampType(), False),
        T.StructField("processing_duration_ms", T.LongType(), False),
    ]
)

# Entity name → payload schema (topic routing, producer.py:153-181)
ENTITY_SCHEMAS: dict[str, T.StructType] = {
    "products": PRODUCT_SCHEMA,
    "customers": CUSTOMER_SCHEMA,
    "orders": ORDER_SCHEMA,
    "events": EVENT_SCHEMA,
}

# Audit columns stamped at every silver write (R10, normalize.stamp_audit)
AUDIT_FIELDS = [
    T.StructField("inserted_at", T.TimestampType(), False),
    T.StructField("last_modified", T.TimestampType(), False),
]


def silver_schema(entity: str) -> T.StructType:
    """The data columns of one silver table's files, in the order the
    upsert writes them: the envelope key, ``consumed_at``, the entity
    fields and the audit columns. The ``bucket`` partition column is not
    in the files; a read discovers it from the path."""
    envelope = [
        f
        for f in RAW_ENVELOPE_SCHEMA.fields
        if f.name in ("topic", "topic_partition", "topic_offset", "consumed_at")
    ]
    return T.StructType(envelope + ENTITY_SCHEMAS[entity].fields + AUDIT_FIELDS)


# ---------------------------------------------------------------------------
# Gold marts (pipeline.build_marts) — the dashboard panels
# ---------------------------------------------------------------------------

REVENUE = T.DecimalType(28, 2)  # sum() of decimal(18,2)

GOLD_MART_SCHEMAS: dict[str, T.StructType] = {
    "revenue_by_status": T.StructType(
        [
            T.StructField("status", T.StringType(), True),
            T.StructField("n_orders", T.LongType(), False),
            T.StructField("revenue", REVENUE, True),
        ]
    ),
    "orders_per_minute": T.StructType(
        [
            T.StructField("minute", T.TimestampType(), True),
            T.StructField("n_orders", T.LongType(), False),
        ]
    ),
    "top_products_by_quantity": T.StructType(
        [
            T.StructField("product_id", T.StringType(), True),
            T.StructField("total_quantity", T.LongType(), True),
            T.StructField("revenue", REVENUE, True),
        ]
    ),
    "event_type_counts": T.StructType(
        [
            T.StructField("event_type", T.StringType(), True),
            T.StructField("n_events", T.LongType(), False),
        ]
    ),
    "dq_gate": T.StructType(
        [
            T.StructField("table_name", T.StringType(), True),
            T.StructField("n_valid", T.LongType(), True),
            T.StructField("n_quarantined", T.LongType(), True),
        ]
    ),
}

# Domains enforced by SQL CHECK constraints (02_create_tables.sql:81-82,113-114)
ORDER_STATUSES = ("pending", "processing", "shipped", "delivered", "cancelled")
EVENT_TYPES = ("page_view", "product_view", "add_to_cart", "remove_from_cart", "purchase")

# Generator domains (utils.py:65-82)
PRODUCT_CATEGORIES = (
    "electronics",
    "fashion",
    "books",
    "home",
    "sports",
    "toys",
    "beauty",
    "grocery",
)
EMAIL_DOMAINS = ("example.com", "shop.test", "mail.local")

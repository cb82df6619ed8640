"""Env-driven engine configuration.

Mirrors the reference's pydantic-settings surface
(``src/config/settings.py:7-76``) field-for-field where meaningful for a
Spark engine: batch shape defaults, corruption probabilities, topic
names, service identity + LOG_* (consumed by ``logging_config``), and
adds Spark-side knobs (sf dir, shuffle partitions).

Intentionally unmirrored (reference ``settings.py:33-52``): the
POSTGRES_* DSN fields (silver lives in parquet/table-format paths, not
a DSN) and DASHBOARD_PORT (no Streamlit process here) — noted rather
than stubbed so the omission is a decision, not an oversight.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


def _env(name: str, default: str, *aliases: str) -> str:
    """Resolve an env var, preferring the reference's variable names
    (``src/config/settings.py``) so reference-style .env deployments work
    unchanged; engine-local aliases are accepted as fallback."""
    for key in (name, *aliases):
        val = os.environ.get(key)
        if val is not None:
            return val
    return default


@dataclass(frozen=True)
class Settings:
    # Topic routing — reference settings.py:27-30 (reference env names)
    topic_orders: str = field(
        default_factory=lambda: _env("KAFKA_ORDER_TOPIC", "orders", "TOPIC_ORDERS")
    )
    topic_customers: str = field(
        default_factory=lambda: _env("KAFKA_CUSTOMER_TOPIC", "customers", "TOPIC_CUSTOMERS")
    )
    topic_products: str = field(
        default_factory=lambda: _env("KAFKA_PRODUCT_TOPIC", "products", "TOPIC_PRODUCTS")
    )
    topic_events: str = field(
        default_factory=lambda: _env("KAFKA_EVENT_TOPIC", "events", "TOPIC_EVENTS")
    )

    # Default batch shape (produce_batch fallbacks) — reference
    # producer.py:268-271. BATCH_SIZE is declared-but-unused in the
    # reference too (settings.py:20); kept for env-surface parity.
    default_products: int = 5
    default_customers: int = 5
    default_orders: int = 10
    default_events: int = 25
    batch_size: int = field(default_factory=lambda: int(_env("BATCH_SIZE", "50")))

    # Corruption probabilities — reference settings.py:63-67 (reference
    # env names, engine aliases accepted)
    corruption_product_rate: float = field(
        default_factory=lambda: float(
            _env("CORRUPTION_PROBABILITY_PRODUCT", "0.01", "CORRUPTION_PRODUCT_RATE")
        )
    )
    corruption_customer_rate: float = field(
        default_factory=lambda: float(
            _env("CORRUPTION_PROBABILITY_CUSTOMER", "0.02", "CORRUPTION_CUSTOMER_RATE")
        )
    )
    corruption_order_rate: float = field(
        default_factory=lambda: float(
            _env("CORRUPTION_PROBABILITY_ORDER", "0.03", "CORRUPTION_ORDER_RATE")
        )
    )
    corruption_event_rate: float = field(
        default_factory=lambda: float(
            _env("CORRUPTION_PROBABILITY_EVENT", "0.04", "CORRUPTION_EVENT_RATE")
        )
    )

    # Service identity + logging — reference settings.py:11-18 (same env
    # names; consumed by config.logging_config)
    app_env: str = field(default_factory=lambda: _env("APP_ENV", "local"))
    service_name: str = field(
        default_factory=lambda: _env("SERVICE_NAME", "ecommerce-pipeline")
    )
    log_level: str = field(default_factory=lambda: _env("LOG_LEVEL", "INFO"))
    log_format: str = field(default_factory=lambda: _env("LOG_FORMAT", "console"))
    log_to_file: bool = field(
        default_factory=lambda: _env("LOG_TO_FILE", "false").lower() in ("1", "true", "yes")
    )
    log_file_max_bytes: int = field(
        default_factory=lambda: int(_env("LOG_FILE_MAX_BYTES", "10485760"))
    )
    log_file_backup_count: int = field(
        default_factory=lambda: int(_env("LOG_FILE_BACKUP_COUNT", "5"))
    )

    # Kafka (used only when a broker is configured; tests use file sources)
    kafka_bootstrap_servers: str = field(
        default_factory=lambda: _env("KAFKA_BOOTSTRAP_SERVERS", "localhost:9092")
    )

    # Spark-side
    sf_dir: str = field(
        default_factory=lambda: _env("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    cpus: int = field(default_factory=lambda: int(_env("SPARK_GRAFT_CPUS", "32")))
    # Materialization primitive for iterative operators (pagerank, BPE,
    # near-dup clustering): 'local' = Dataset.localCheckpoint (executor-
    # memory blocks — fast, but blocks DIE WITH EXECUTORS, so a lost
    # executor kills the job past the checkpoint); 'reliable' =
    # Dataset.checkpoint to the SparkContext checkpoint dir (HDFS/object
    # store on a cluster) — survives executor loss at the cost of a
    # write+read round-trip per materialization. See session.materialize
    # and SCALE.md §checkpoint-durability.
    checkpoint_mode: str = field(
        default_factory=lambda: _env("ENGINE_CHECKPOINT_MODE", "local")
    )

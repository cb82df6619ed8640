"""Settings tests mirroring reference ``tests/unit/test_config.py``
intent: every default, every reference-named env override, and the
engine-alias fallbacks. No Spark needed."""

from __future__ import annotations

from ecommerce_realtime_pipeline_spark.settings import Settings


def test_defaults():
    s = Settings()
    assert (s.topic_products, s.topic_customers, s.topic_orders, s.topic_events) == (
        "products", "customers", "orders", "events"
    )
    assert (s.default_products, s.default_customers) == (5, 5)
    assert (s.default_orders, s.default_events) == (10, 25)
    assert s.batch_size == 50
    assert (s.corruption_product_rate, s.corruption_customer_rate) == (0.01, 0.02)
    assert (s.corruption_order_rate, s.corruption_event_rate) == (0.03, 0.04)
    assert s.kafka_bootstrap_servers == "localhost:9092"
    assert s.app_env == "local"
    assert s.service_name == "ecommerce-pipeline"
    assert s.log_level == "INFO"
    assert s.log_format == "console"
    assert s.log_to_file is False
    assert s.log_file_max_bytes == 10_485_760
    assert s.log_file_backup_count == 5


def test_reference_env_names_override(monkeypatch):
    """The reference's exact env-var names must work unchanged."""
    monkeypatch.setenv("KAFKA_ORDER_TOPIC", "orders.v2")
    monkeypatch.setenv("KAFKA_CUSTOMER_TOPIC", "cust.v2")
    monkeypatch.setenv("KAFKA_PRODUCT_TOPIC", "prod.v2")
    monkeypatch.setenv("KAFKA_EVENT_TOPIC", "ev.v2")
    monkeypatch.setenv("CORRUPTION_PROBABILITY_PRODUCT", "0.5")
    monkeypatch.setenv("KAFKA_BOOTSTRAP_SERVERS", "broker:9092")
    monkeypatch.setenv("LOG_LEVEL", "DEBUG")
    monkeypatch.setenv("LOG_FORMAT", "json")
    monkeypatch.setenv("LOG_TO_FILE", "true")
    monkeypatch.setenv("SERVICE_NAME", "svc")
    monkeypatch.setenv("APP_ENV", "prod")
    s = Settings()
    assert s.topic_orders == "orders.v2"
    assert s.topic_customers == "cust.v2"
    assert s.topic_products == "prod.v2"
    assert s.topic_events == "ev.v2"
    assert s.corruption_product_rate == 0.5
    assert s.kafka_bootstrap_servers == "broker:9092"
    assert s.log_level == "DEBUG"
    assert s.log_format == "json"
    assert s.log_to_file is True
    assert s.service_name == "svc"
    assert s.app_env == "prod"


def test_engine_alias_fallback(monkeypatch):
    """Engine-local alias names are accepted when reference names are
    absent, and the reference name wins when both are set."""
    monkeypatch.setenv("TOPIC_ORDERS", "alias-orders")
    assert Settings().topic_orders == "alias-orders"
    monkeypatch.setenv("KAFKA_ORDER_TOPIC", "ref-orders")
    assert Settings().topic_orders == "ref-orders"
    monkeypatch.setenv("CORRUPTION_ORDER_RATE", "0.9")
    assert Settings().corruption_order_rate == 0.9
    monkeypatch.setenv("CORRUPTION_PROBABILITY_ORDER", "0.7")
    assert Settings().corruption_order_rate == 0.7


def test_settings_frozen():
    import dataclasses

    import pytest

    with pytest.raises(dataclasses.FrozenInstanceError):
        Settings().batch_size = 99  # type: ignore[misc]


def test_default_driver_memory_is_a_quarter_of_physical_memory(monkeypatch):
    """Without ``SPARK_GRAFT_DRIVER_MEM`` the driver heap is a quarter
    of physical memory in whole GiB, clamped to [2g, 90g]; derived from
    ``os.sysconf`` without starting a session."""
    import os

    from ecommerce_realtime_pipeline_spark.session import default_driver_memory

    page = 4096

    def machine(gib):
        sizes = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": gib * (1 << 30) // page}
        monkeypatch.setattr(os, "sysconf", lambda name: sizes[name])
        return default_driver_memory()

    assert machine(15) == "3g"
    assert machine(64) == "16g"
    assert machine(4) == "2g"
    assert machine(1024) == "90g"

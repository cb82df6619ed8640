"""Golden schema inventory (SURVEY §5 'golden-inventory tests',
mirroring reference ``tests/unit/test_database_init.py``): every
engine table schema — entity silvers, raw envelope, monitoring — is
pinned by (name, type, nullable) so an accidental field rename/retype
fails here, not in a consumer. The reference pins schemas/tables/
indexes of its Postgres DDL the same way."""

from __future__ import annotations

from ecommerce_realtime_pipeline_spark import schemas as S

MONEY = "decimal(10,2)"


def _shape(schema):
    return [(f.name, f.dataType.simpleString(), f.nullable) for f in schema.fields]


def test_product_schema_golden():
    assert _shape(S.PRODUCT_SCHEMA) == [
        ("product_id", "string", False),
        ("name", "string", True),
        ("category", "string", True),
        ("price", MONEY, True),
        ("description", "string", True),
        ("stock_quantity", "int", True),
        ("created_at", "timestamp", False),
        ("updated_at", "timestamp", False),
    ]


def test_customer_schema_golden():
    assert _shape(S.CUSTOMER_SCHEMA) == [
        ("customer_id", "string", False),
        ("email", "string", True),
        ("name", "string", True),
        ("created_at", "timestamp", False),
        ("updated_at", "timestamp", False),
    ]


def test_order_schema_golden():
    assert _shape(S.ORDER_SCHEMA) == [
        ("order_id", "string", False),
        ("customer_id", "string", True),
        ("items", f"array<struct<product_id:string,quantity:int,unit_price:{MONEY}>>", True),
        ("total", MONEY, True),
        ("status", "string", True),
        ("created_at", "timestamp", False),
        ("updated_at", "timestamp", False),
    ]


def test_event_schema_golden():
    shape = _shape(S.EVENT_SCHEMA)
    assert shape[0] == ("event_id", "string", False)
    assert ("timestamp", "timestamp", False) in shape
    assert ("customer_id", "string", True) in shape


def test_order_item_table_golden():
    assert _shape(S.ORDER_ITEMS_TABLE_SCHEMA) == [
        ("order_id", "string", False),
        ("product_id", "string", False),
        ("quantity", "int", False),
        ("unit_price", MONEY, False),
        ("line_total", MONEY, False),
    ]


def test_raw_envelope_golden():
    assert _shape(S.RAW_ENVELOPE_SCHEMA) == [
        ("topic", "string", False),
        ("topic_partition", "int", False),
        ("topic_offset", "bigint", False),
        ("message_key", "string", True),
        ("payload", "string", False),
        ("consumed_at", "timestamp", False),
    ]


def test_monitoring_tables_golden():
    assert _shape(S.CONSUMER_OFFSETS_SCHEMA) == [
        ("topic", "string", False),
        ("partition_id", "int", False),
        ("offset_committed", "bigint", False),
        ("consumer_group", "string", False),
        ("last_updated", "timestamp", False),
    ]
    assert _shape(S.PROCESSING_STATS_SCHEMA) == [
        ("table_name", "string", False),
        ("records_processed", "bigint", False),
        ("records_failed", "bigint", False),
        ("batch_timestamp", "timestamp", False),
        ("processing_duration_ms", "bigint", False),
    ]


def test_entity_registry_complete():
    """ENTITY_SCHEMAS routes all four entities, id field first — the
    invariant parse_envelope/upsert_batch key on."""
    assert set(S.ENTITY_SCHEMAS) == {"products", "customers", "orders", "events"}
    ids = {e: s.fields[0].name for e, s in S.ENTITY_SCHEMAS.items()}
    assert ids == {
        "products": "product_id",
        "customers": "customer_id",
        "orders": "order_id",
        "events": "event_id",
    }


def _types(schema, drop=()):
    return [(f.name, f.dataType.simpleString()) for f in schema.fields if f.name not in drop]


def _fields(schema):
    """Name, type (nested nullability included) and nullability; field
    metadata (the stream's watermark tag on ``consumed_at``) left out."""
    return [(f.name, f.dataType, f.nullable) for f in schema.fields]


def test_declared_schemas_match_written_tables(spark, tmp_path):
    """Schema-drift guard for the tables the engine reads with a
    declared schema instead of inference: after one small pipeline cycle
    through every entity, each declared schema equals the footer-inferred
    schema of what the writers produced (names, types and order), and a
    declared read returns the same rows as an inferred one."""
    import os

    from ecommerce_realtime_pipeline_spark import pipeline as PL
    from ecommerce_realtime_pipeline_spark import storage

    work = str(tmp_path / "work")
    PL.run_pipeline(
        spark,
        work,
        product_count=6,
        customer_count=6,
        order_count=8,
        event_count=12,
        seed=11,
    )
    tables = {os.path.join("silver", e): S.silver_schema(e) for e in PL.ENTITIES}
    tables[os.path.join("silver", "order_items")] = S.ORDER_ITEMS_TABLE_SCHEMA
    tables.update(
        {os.path.join("offsets", e): S.CONSUMER_OFFSETS_SCHEMA for e in PL.ENTITIES}
    )
    tables.update(
        {os.path.join("gold", m): sch for m, sch in S.GOLD_MART_SCHEMAS.items()}
    )
    for rel, declared in tables.items():
        path = os.path.join(work, rel)
        inferred = spark.read.parquet(path)
        assert _types(declared) == _types(inferred.schema, drop=("bucket",)), rel
        got = storage.read_parquet(spark, path, declared)
        assert _fields(got.schema) == _fields(inferred.schema), rel
        assert sorted(map(repr, got.collect())) == sorted(
            map(repr, inferred.collect())
        ), rel

"""Synthetic data generation (SURVEY §2.2 G1–G8), DataFrame-native.

Mirrors the reference generators' semantics
(``src/data_generator/utils.py:55-335``): syllable product/customer
names, category/event-type domains, U(2,500) 2-dp prices, U{0..500}
stock, 5–12-word descriptions, name-derived emails, 1–5 items per order
sampled from the product pool, orders/events referencing the generated
customer pool, and order totals computed per-line-round-then-sum
(``schemas.py:60-61,79-82``).

**Seed semantics (G1) — the Spark-hard part (SURVEY §7):** the
reference uses one sequential ``random.seed(seed)`` stream, which is
order-dependent and cannot be reproduced by parallel tasks. Here every
random draw is ``f(seed, row_id, tag)`` via ``xxhash64`` — the same
seed yields bit-identical batches for ANY partition count or task
order (asserted in tests). Semantically-equal-not-bitwise-equal to the
reference by design.

Scale stance (100 TB): ``spark.range(n)`` parallelizes generation with
zero driver involvement; entity coherence (orders→customers,
items→products) is sampling-by-index + broadcast-joining the (small)
dimension pools; the only shuffle is the per-order ``collect_list`` of
its items (sorted for determinism).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark.catalog import order_total
from ecommerce_realtime_pipeline_spark.schemas import (
    EMAIL_DOMAINS,
    EVENT_TYPES,
    PRODUCT_CATEGORIES,
)
from ecommerce_realtime_pipeline_spark.session import overlapped
from ecommerce_realtime_pipeline_spark.settings import Settings

# reference utils.py:87-99 (syllable name model), :105-121 (description vocab)
SYLLABLES = ("al", "ver", "tek", "zon", "lum", "nex", "tri", "quo", "plex", "gen")
DESCRIPTION_VOCAB = (
    "innovative",
    "lightweight",
    "durable",
    "premium",
    "eco",
    "wireless",
    "smart",
    "ergonomic",
    "portable",
    "sleek",
    "versatile",
    "compact",
    "high-performance",
)
BASE_TS = "2025-01-01 00:00:00"
TIME_WINDOW_SECONDS = 7 * 86400  # generated event-time span

_RES = 2**40  # hash→uniform resolution


def unit(tag: str, seed: int, *cols: Column) -> Column:
    """Uniform [0,1) drawn from xxhash64(tag, seed, row-id...) — pure
    f(seed, row), independent of partitioning and task order (G1)."""
    h = F.xxhash64(F.lit(tag), F.lit(seed), *cols)
    return F.pmod(h, F.lit(_RES)).cast("double") / F.lit(float(_RES))


def _randint(tag: str, seed: int, lo: int, hi: int, *cols: Column) -> Column:
    """Uniform integer in [lo, hi] (inclusive, like random.randint)."""
    return (F.floor(unit(tag, seed, *cols) * (hi - lo + 1)) + lo).cast("int")


def choice(tag: str, seed: int, values: tuple[str, ...], *cols: Column) -> Column:
    return F.element_at(
        F.array(*[F.lit(v) for v in values]), _randint(tag, seed, 1, len(values), *cols)
    )


def _uuid(tag: str, seed: int, id_col: Column) -> Column:
    """Deterministic UUID-shaped id from md5(tag|seed|row-id)."""
    hx = F.md5(F.concat_ws("|", F.lit(tag), F.lit(str(seed)), id_col.cast("string")))
    return F.concat_ws(
        "-",
        F.substring(hx, 1, 8),
        F.substring(hx, 9, 4),
        F.substring(hx, 13, 4),
        F.substring(hx, 17, 4),
        F.substring(hx, 21, 12),
    )


def _ts(tag: str, seed: int, *cols: Column) -> Column:
    """Deterministic event-time within the generation window (the
    reference stamps wall-clock now(); a fixed window keeps batches
    reproducible and time-bucket KPIs meaningful)."""
    offset = F.floor(unit(tag, seed, *cols) * TIME_WINDOW_SECONDS).cast("long")
    return F.timestamp_seconds(F.unix_timestamp(F.lit(BASE_TS)) + offset)


def _word(tag: str, seed: int, *cols: Column) -> Column:
    return F.initcap(choice(tag, seed, SYLLABLES, *cols))


def _entity_name(prefix: str, tag: str, seed: int, id_col: Column) -> Column:
    """'<Prefix> Al Ver' — two one-syllable capitalized words
    (utils.py:87-102)."""
    return F.concat_ws(
        " ", F.lit(prefix), _word(f"{tag}_w1", seed, id_col), _word(f"{tag}_w2", seed, id_col)
    )


def gen_products(spark: SparkSession, n: int, seed: int = 42) -> DataFrame:
    """G2: product pool. Keeps ``_idx`` (range id) for sampling joins."""
    base = spark.range(n).select(F.col("id").alias("_idx"))
    rid = F.col("_idx")
    n_words = _randint("p_desc_n", seed, 5, 12, rid)
    desc_words = F.transform(
        F.sequence(F.lit(1), n_words),
        lambda i: choice("p_desc_w", seed, DESCRIPTION_VOCAB, rid, i),
    )
    desc_body = F.concat_ws(" ", desc_words)
    description = F.concat(
        F.upper(F.substring(desc_body, 1, 1)), F.substring(desc_body, 2, 1_000_000), F.lit(".")
    )
    created = _ts("p_created", seed, rid)
    return base.select(
        "_idx",
        _uuid("product", seed, rid).alias("product_id"),
        _entity_name("Product", "p_name", seed, rid).alias("name"),
        choice("p_cat", seed, PRODUCT_CATEGORIES, rid).alias("category"),
        F.bround(unit("p_price", seed, rid) * (500.0 - 2.0) + 2.0, 2)
        .cast("decimal(10,2)")
        .alias("price"),
        description.alias("description"),
        _randint("p_stock", seed, 0, 500, rid).alias("stock_quantity"),
        created.alias("created_at"),
        created.alias("updated_at"),
    )


def gen_customers(spark: SparkSession, n: int, seed: int = 42) -> DataFrame:
    """G3: customer pool; email derived from the name
    (utils.py:125-128)."""
    base = spark.range(n).select(F.col("id").alias("_idx"))
    rid = F.col("_idx")
    name = _entity_name("Customer", "c_name", seed, rid)
    email = F.concat(
        F.regexp_replace(F.lower(name), " ", "."),
        F.lit("@"),
        choice("c_domain", seed, EMAIL_DOMAINS, rid),
    )
    created = _ts("c_created", seed, rid)
    return base.select(
        "_idx",
        _uuid("customer", seed, rid).alias("customer_id"),
        email.alias("email"),
        name.alias("name"),
        created.alias("created_at"),
        created.alias("updated_at"),
    )


def gen_orders(
    spark: SparkSession,
    n: int,
    products: DataFrame,
    customers: DataFrame,
    n_products: int,
    n_customers: int,
    seed: int = 42,
    min_items: int = 1,
    max_items: int = 5,
) -> DataFrame:
    """G4/G5/G8: orders with 1–5 items sampled (with replacement, like
    the reference — duplicate products per order are possible and are
    exactly what the UNIQUE(order_id, product_id) rule quarantines)
    from the product pool; customer sampled from the pool; total =
    bround(Σ bround(qty·price, 2), 2).

    Plan: item skeleton exploded from a sequence → broadcast-join the
    product pool by index → sorted collect_list back to one row per
    order (single shuffle on order _idx).
    """
    if min_items < 1:
        raise ValueError("min_items must be >= 1")
    if max_items < min_items:
        raise ValueError("max_items must be >= min_items")
    base = spark.range(n).select(F.col("id").alias("_idx"))
    rid = F.col("_idx")
    n_items = _randint("o_nitems", seed, min_items, max_items, rid)
    skeleton = base.select(
        "_idx",
        F.explode(F.sequence(F.lit(1), n_items)).alias("_i"),
    ).select(
        "_idx",
        "_i",
        _randint("o_pidx", seed, 0, n_products - 1, rid, F.col("_i")).alias("_pidx"),
        _randint("o_qty", seed, 1, 5, rid, F.col("_i")).alias("quantity"),
    )
    prod_pool = products.select(
        F.col("_idx").alias("_pidx"),
        F.col("product_id"),
        F.col("price").alias("unit_price"),
    )
    items = (
        skeleton.join(F.broadcast(prod_pool), "_pidx")
        .groupBy("_idx")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("_i", "product_id", "quantity", "unit_price")
                )
            ).alias("_items_i")
        )
        .select(
            "_idx",
            F.transform(
                "_items_i",
                lambda s: F.struct(
                    s["product_id"].alias("product_id"),
                    s["quantity"].alias("quantity"),
                    s["unit_price"].alias("unit_price"),
                ),
            ).alias("items"),
        )
    )
    total = order_total("items")
    cust_pool = customers.select(
        F.col("_idx").alias("_cidx"), F.col("customer_id")
    )
    created = _ts("o_created", seed, rid)
    return (
        base.select(
            "_idx",
            _uuid("order", seed, rid).alias("order_id"),
            _randint("o_cidx", seed, 0, n_customers - 1, rid).alias("_cidx"),
            created.alias("created_at"),
        )
        .join(F.broadcast(cust_pool), "_cidx")
        .join(items, "_idx")
        .select(
            "_idx",
            "order_id",
            "customer_id",
            "items",
            total.alias("total"),
            F.lit("pending").alias("status"),  # reference default status
            "created_at",
            F.col("created_at").alias("updated_at"),
        )
    )


def gen_events(
    spark: SparkSession, n: int, customers: DataFrame, n_customers: int, seed: int = 42
) -> DataFrame:
    """G6: behavioural events referencing the customer pool."""
    base = spark.range(n).select(F.col("id").alias("_idx"))
    rid = F.col("_idx")
    cust_pool = customers.select(F.col("_idx").alias("_cidx"), "customer_id")
    return (
        base.select(
            "_idx",
            _uuid("event", seed, rid).alias("event_id"),
            choice("e_type", seed, EVENT_TYPES, rid).alias("event_type"),
            _randint("e_cidx", seed, 0, n_customers - 1, rid).alias("_cidx"),
            _ts("e_ts", seed, rid).alias("timestamp"),
        )
        .join(F.broadcast(cust_pool), "_cidx")
        .select("_idx", "event_id", "event_type", "customer_id", "timestamp")
    )


@dataclass
class SyntheticBatch:
    """G7: coherent batch — orders reference generated products and
    customers; events reference customers (utils.py:301-335)."""

    products: DataFrame
    customers: DataFrame
    orders: DataFrame
    events: DataFrame

    def drop_indexes(self) -> "SyntheticBatch":
        return SyntheticBatch(
            self.products.drop("_idx"),
            self.customers.drop("_idx"),
            self.orders.drop("_idx"),
            self.events.drop("_idx"),
        )

    def materialize(self) -> "SyntheticBatch":
        """Compute each entity once and truncate its lineage
        (``localCheckpoint``). Downstream consumers that fan out over a
        batch (validation, orphan checks, metrics unions) otherwise
        re-optimize and re-execute the deep generation expression trees
        once per branch — measured 47s → 2s for the 4-entity validation
        suite at 100 rows/entity. At cluster scale the equivalent is
        landing the generated batch to bronze storage before the DQ
        pass (which the ingest pipeline does anyway).

        The four checkpoints are independent jobs (each entity's plan
        is a pure function of the seed — orders/events embed their own
        copies of the parent generation subtrees), so they are
        submitted from a small thread pool: one frame's checkpoint
        tail back-fills with the next frame's tasks instead of
        serializing 4× fixed job overhead (guide §2.6). Results are
        byte-identical to the sequential order."""
        return SyntheticBatch(
            *overlapped(
                self.products.localCheckpoint,
                self.customers.localCheckpoint,
                self.orders.localCheckpoint,
                self.events.localCheckpoint,
            )
        )


def generate_batch(
    spark: SparkSession,
    product_count: int = 10,
    customer_count: int = 10,
    order_count: int = 25,
    event_count: int = 50,
    seed: int = 42,
    corruption_enabled: bool = False,
    settings: Settings | None = None,
) -> SyntheticBatch:
    """G7 orchestration (defaults mirror utils.py:311-318)."""
    products = gen_products(spark, product_count, seed)
    customers = gen_customers(spark, customer_count, seed)
    orders = gen_orders(
        spark, order_count, products, customers, product_count, customer_count, seed
    )
    events = gen_events(spark, event_count, customers, customer_count, seed)
    batch = SyntheticBatch(products, customers, orders, events)
    if corruption_enabled:
        from ecommerce_realtime_pipeline_spark.operators.corruptions import corrupt_batch

        batch = corrupt_batch(batch, settings or Settings(), seed=seed)
    return batch

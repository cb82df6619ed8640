"""Testdata catalog: registers the driver's parquet tables as temp views.

Mirrors the reference's storage bootstrap (``sql/init/01_create_schemas.sql``
+ ``02_create_tables.sql`` executed at container init) — in Spark the
"catalog init" is just view registration over columnar files. The
testdata files come from outside the engine, so their schemas are read
from the parquet footers: once per file version (a Spark job of its own),
memoized by :func:`storage.read_parquet`, and every later read of the
same file starts no inference job. Min/max pushdown still reads each
scanned row group's footer statistics at execution.

The money expressions every module shares live here too:
:data:`MONEY`, :func:`money`, :func:`as_double` and the order-total
fold :func:`order_total`.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark.settings import Settings
from ecommerce_realtime_pipeline_spark.storage import parquet_schema, read_parquet

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = Settings().sf_dir


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table. Parquet scan → columnar, pushdown-capable.

    ``events.ts`` normalizes to a µs TIMESTAMP (LTZ) whatever the
    driver generated: TIMESTAMP(NANOS) parquet (Spark 4 rejects it —
    read ns as long via legacy conf, floor-truncate ns→µs) or a naive
    µs timestamp (Spark infers TIMESTAMP_NTZ — cast to LTZ, value-
    preserving under the session's pinned UTC). Both match DuckDB's
    read of the same file, so oracle ``epoch_us`` comparisons line up,
    and downstream ``unix_micros`` (LTZ-only) always resolves.
    """
    if name == "events":
        _pin_events_read(spark)
        df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # explicit timestamp_ltz: cast("timestamp") resolves through
            # spark.sql.timestampType and would be a no-op on a session
            # that defaults to TIMESTAMP_NTZ, leaving unix_micros
            # (LTZ-only) unresolvable downstream.
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
        return df
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def _pin_events_read(spark: SparkSession) -> None:
    # Our session factory sets these at build time; set them here too
    # so load_table also works on a driver-owned session. Scoped to
    # the events read path — the only ns-timestamp table — so other
    # reads are unaffected. The UTC pin matters for the NTZ branch:
    # NTZ→LTZ cast is only value-preserving when the session zone is
    # UTC; without it a non-UTC driver session silently shifts every
    # ts by the zone offset and breaks oracle epoch_us parity.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


#: exact money type of the testdata's price columns. A query casts to
#: it BEFORE arithmetic, so sums are exact and partition-order
#: independent (doubles would make the oracle hash flaky), and casts
#: its final result to DOUBLE only; mirrors the reference's
#: round-to-2dp money semantics (schemas.py:61,81 in the reference).
MONEY = "decimal(18,2)"


def money(col: str) -> Column:
    """Column ``col`` as exact money (:data:`MONEY`)."""
    return F.col(col).cast(MONEY)


def as_double(col: Column, scale: int = 2) -> Column:
    """A money result rounded to ``scale`` places, then cast to DOUBLE."""
    return F.round(col, scale).cast("double")


def order_total(items: str | Column) -> Column:
    """An order's header total from its items array: each line's
    ``quantity * unit_price`` brounded to 2 places, summed as
    :data:`MONEY`, the sum brounded and cast to ``decimal(10,2)`` (the
    reference's ``Order.compute_total``, ``schemas.py:60-61,79-82``). A
    NULL items array totals 0. The generator, the producer and the
    validator all fold through this one definition."""
    return F.bround(
        F.aggregate(
            F.coalesce(items, F.array()),
            F.lit(0).cast(MONEY),
            lambda acc, x: (
                acc + F.bround(x["quantity"].cast(MONEY) * x["unit_price"], 2)
            ).cast(MONEY),
        ),
        2,
    ).cast("decimal(10,2)")


def infer_schemas(spark: SparkSession, sf_dir: str) -> None:
    """Infer the schema of every testdata table present in ``sf_dir``
    ahead of its first read: one Spark job per table and file version,
    none once memoized. A caller that counts a query's jobs calls this
    first, so the count never carries the first read of a table."""
    for name in TABLES:
        path = f"{sf_dir}/{name}.parquet"
        if os.path.exists(path):
            if name == "events":
                _pin_events_read(spark)
            parquet_schema(spark, path)


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register all testdata tables as temp views; returns name → DataFrame."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 16,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a hash-BUCKETED (and optionally sorted) managed
    table — the at-rest layout that makes repeated equi-joins and
    aggregations on ``key`` shuffle-free: two tables bucketed on the
    same key with the same bucket count sort-merge-join with NO
    Exchange on either side (Spark reads bucket i of A against bucket i
    of B), and a groupBy(key) needs no shuffle either.

    This is the curated-layout counterpart of the reference's
    b-tree-indexed Postgres tables (``sql/init/03_create_indexes.sql``):
    at 100 TB you pay ONE shuffle at write time, then every nightly
    join/rollup on the key reads co-located buckets. Choose
    ``n_buckets`` so a bucket ~ one task's memory (e.g. facts at 100 TB
    → tens of thousands of buckets).
    """
    writer = df.write.format("parquet").mode(mode).bucketBy(n_buckets, key)
    if sort:
        writer = writer.sortBy(key)
    writer.saveAsTable(table)

"""Property-based pin of the money math (hypothesis): the engine's
order-total expression (per-line bround-HALF_UP then exact DECIMAL sum
— ``catalog.order_total`` / ``normalize.explode_order_items``)
must equal an independent Python ``decimal`` HALF_UP implementation for
ANY item list within the total's declared ``decimal(10,2)`` range. This
is the arithmetic the exactly-once hashes and the R12 re-aggregation
check stand on; a drift here (float creep, wrong rounding mode) breaks
oracle parity everywhere. One Spark job per example — examples kept
small and few.

Domain note: the header total is ``decimal(10,2)`` (the reference's
NUMERIC(10,2) contract — reference ``sql/init/01_create_tables.sql``),
so totals are capped at 99,999,999.99. The strategy below stays far
inside that (max 8 lines x 99 qty x 9,999.99 ~ 7.9M, vs the
generator's real domain of 5 lines x 5 qty x 500.00); a separate test
pins that out-of-range totals fail loudly under ANSI mode instead of
silently wrapping or nulling.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ecommerce_realtime_pipeline_spark.catalog import order_total

MONEY = st.decimals(
    min_value=Decimal("0.01"), max_value=Decimal("9999.99"), places=2
)
QTY = st.integers(min_value=1, max_value=99)
ITEMS = st.lists(st.tuples(QTY, MONEY), min_size=0, max_size=8)


def _expected_total(items) -> Decimal:
    cent = Decimal("0.01")
    total = sum(
        (Decimal(q) * p).quantize(cent, rounding=ROUND_HALF_UP) for q, p in items
    )
    return Decimal(total).quantize(cent, rounding=ROUND_HALF_UP)


def _items_df(spark, items):
    rows = [("o1", [("p%d" % i, q, p) for i, (q, p) in enumerate(items)])]
    return spark.createDataFrame(
        rows,
        "order_id string, items array<struct<product_id:string,"
        "quantity:int,unit_price:decimal(10,2)>>",
    )


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(items=ITEMS)
def test_computed_total_matches_decimal_half_up(spark, items):
    df = _items_df(spark, items)
    got = df.select(order_total("items").alias("t")).collect()[0]["t"]
    assert got == _expected_total(items), (items, got)


def test_computed_total_overflow_fails_loudly(spark):
    """A total past decimal(10,2)'s 99,999,999.99 cap must raise under
    ANSI mode (the session default), not wrap or silently null — a
    100 TB pipeline wants the loud failure."""
    from pyspark.errors.exceptions.captured import ArithmeticException

    items = [(999, Decimal("99999.99")), (999, Decimal("99999.99"))]
    df = _items_df(spark, items)
    with pytest.raises(ArithmeticException):
        df.select(order_total("items").alias("t")).collect()

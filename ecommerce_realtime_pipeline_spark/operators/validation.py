"""Validation / quarantine operators (SURVEY §2.4 R5–R8, R12, R18).

The reference enforces data quality declaratively in Postgres DDL —
CHECK / NOT NULL / UNIQUE / FK constraints
(``sql/init/02_create_tables.sql:56-121``). Spark has no enforced
constraints, so the quarantine operator IS the semantics: every rule
becomes a columnar predicate (row rules), a window (uniqueness), or an
anti-join (foreign keys), and each input row is routed to either the
``valid`` or the ``quarantine`` output with the list of violated rules
attached.

Scale stance (100 TB):
- Row rules (NOT NULL / range / domain) are evaluated in ONE pass with
  no shuffle — an ``array_compact(array(when(...)))`` of rule names,
  fully inside whole-stage codegen.
- Uniqueness is a window over the key (one shuffle on the key); the
  "first insert wins" semantics of a SQL UNIQUE constraint maps to
  ``row_number() == 1`` under a deterministic total order.
- FK checks are left joins against the parent's DISTINCT key set —
  Catalyst/AQE broadcasts the key set when small (dims) and falls back
  to a shuffled join for fact-sized parents. All FK flags for one
  entity are composed into the same violations array, so quarantine
  routing stays a single filter.
- Metrics (R18) aggregate the exploded rule names — one narrow shuffle
  over (already tiny) quarantine rows.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark.catalog import order_total
from ecommerce_realtime_pipeline_spark.schemas import EVENT_TYPES, ORDER_STATUSES

VIOLATIONS_COL = "violations"


@dataclass(frozen=True)
class RowRule:
    """A row-local constraint: ``passes`` must evaluate TRUE for a valid
    row; NULL or FALSE routes the row to quarantine under ``name``."""

    name: str
    passes: Column


def not_null(col: str) -> Column:
    return F.col(col).isNotNull()


def non_negative(col: str) -> Column:
    return F.col(col) >= 0


def positive(col: str) -> Column:
    return F.col(col) > 0


def in_domain(col: str, domain: tuple[str, ...]) -> Column:
    return F.col(col).isin(list(domain))


def _violation_flag(rule: RowRule) -> Column:
    # NULL predicate (e.g. `price >= 0` on a NULL price) is NOT a pass —
    # mirrors SQL CHECK semantics only for NOT NULL'd columns, so rules
    # on nullable columns should wrap with coalesce upstream. We treat
    # null-result as violation because every nullable column with a
    # range rule also carries NOT NULL in the reference DDL.
    return F.when(~F.coalesce(rule.passes, F.lit(False)), F.lit(rule.name))


def check_rows(df: DataFrame, rules: list[RowRule]) -> DataFrame:
    """Append ``violations: array<string>`` of failed row-rule names.

    One codegen'd projection; no shuffle, no UDF.
    """
    if not rules:
        return df.withColumn(VIOLATIONS_COL, F.array().cast("array<string>"))
    return df.withColumn(
        VIOLATIONS_COL, F.array_compact(F.array(*[_violation_flag(r) for r in rules]))
    )


def check_unique(
    df: DataFrame, keys: list[str], order_by: list[str], rule_name: str
) -> DataFrame:
    """UNIQUE-constraint semantics: first row (by ``order_by`` total
    order) per key survives, later rows gain ``rule_name`` in their
    violations array — mirroring 'subsequent INSERTs fail'.

    One shuffle on ``keys``.
    """
    rn = F.row_number().over(
        Window.partitionBy(*keys).orderBy(*[F.col(c).asc_nulls_last() for c in order_by])
    )
    # SQL UNIQUE ignores NULL keys: a row with any NULL key never collides
    all_keys_non_null = F.lit(True)
    for k in keys:
        all_keys_non_null = all_keys_non_null & F.col(k).isNotNull()
    dup = (rn > 1) & all_keys_non_null
    return df.withColumn(
        VIOLATIONS_COL,
        F.when(dup, F.array_append(F.col(VIOLATIONS_COL), F.lit(rule_name))).otherwise(
            F.col(VIOLATIONS_COL)
        ),
    )


def check_fk(
    df: DataFrame, fk_col: str, parent: DataFrame, parent_key: str, rule_name: str
) -> DataFrame:
    """FK referential check: rows whose non-null ``fk_col`` has no match
    in ``parent[parent_key]`` gain ``rule_name``.

    Left join against the parent's distinct keys (broadcast when small);
    NULL FKs are handled by the NOT NULL row rule, not here (SQL FK
    semantics: NULL references are not checked).
    """
    keys = parent.select(F.col(parent_key).alias("__fk_parent_key")).distinct()
    joined = df.join(keys, on=df[fk_col] == keys["__fk_parent_key"], how="left")
    missing = F.col(fk_col).isNotNull() & F.col("__fk_parent_key").isNull()
    return joined.withColumn(
        VIOLATIONS_COL,
        F.when(missing, F.array_append(F.col(VIOLATIONS_COL), F.lit(rule_name))).otherwise(
            F.col(VIOLATIONS_COL)
        ),
    ).drop("__fk_parent_key")


def split_valid(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Route rows: empty violations → valid (column dropped), else
    quarantine (violations kept for audit)."""
    valid = df.filter(F.size(VIOLATIONS_COL) == 0).drop(VIOLATIONS_COL)
    quarantine = df.filter(F.size(VIOLATIONS_COL) > 0)
    return valid, quarantine


def quarantine_metrics(quarantine: DataFrame, table_name: str) -> DataFrame:
    """R18 data-quality metrics: per-rule violation counts
    (shape of the reference's ``processing_stats`` intent)."""
    return (
        quarantine.select(F.explode(VIOLATIONS_COL).alias("rule"))
        .groupBy("rule")
        .agg(F.count("*").alias("n_violations"))
        .select(F.lit(table_name).alias("table_name"), "rule", "n_violations")
    )


# ---------------------------------------------------------------------------
# Entity rule sets — one per normalized table, mirroring the DDL
# (02_create_tables.sql:52-122) CHECK/NOT NULL constraints. Built lazily
# (Column construction needs an active SparkContext).
# ---------------------------------------------------------------------------


def entity_row_rules(name: str) -> list[RowRule]:
    if name == "products":
        return [
            RowRule("product_name_not_null", not_null("name")),
            RowRule("product_category_not_null", not_null("category")),
            RowRule("product_price_not_null", not_null("price")),
            RowRule("product_price_non_negative", non_negative("price")),
            RowRule("product_stock_not_null", not_null("stock_quantity")),
            RowRule("product_stock_non_negative", non_negative("stock_quantity")),
        ]
    if name == "customers":
        return [
            RowRule("customer_email_not_null", not_null("email")),
            # not a DDL CHECK, but the declared validator intent the
            # corruption engine exploits ("invalid_email" → "not-an-email")
            RowRule("customer_email_format", F.col("email").rlike("^[^@]+@[^@]+\\.[^@]+$")),
            RowRule("customer_name_not_null", not_null("name")),
        ]
    if name == "orders":
        return [
            RowRule("order_customer_id_not_null", not_null("customer_id")),
            RowRule(
                "order_total_non_negative", F.col("total").isNull() | (F.col("total") >= 0)
            ),
            RowRule("order_status_not_null", not_null("status")),
            RowRule(
                "order_status_domain",
                F.col("status").isNull() | in_domain("status", ORDER_STATUSES),
            ),
            RowRule("order_items_not_empty", F.size(F.coalesce("items", F.array())) > 0),
        ]
    if name == "order_items":
        return [
            RowRule("item_quantity_positive", positive("quantity")),
            RowRule("item_unit_price_non_negative", non_negative("unit_price")),
        ]
    if name == "events":
        return [
            RowRule("event_type_not_null", not_null("event_type")),
            RowRule(
                "event_type_domain",
                F.col("event_type").isNull() | in_domain("event_type", EVENT_TYPES),
            ),
            RowRule("event_customer_id_not_null", not_null("customer_id")),
        ]
    raise KeyError(name)


def check_entity(
    name: str,
    df: DataFrame,
    parents: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Full constraint pass for one entity: row rules + uniqueness + FKs.

    Returns every row of ``df`` with its ``violations`` array (empty for
    a valid row). ``parents`` supplies FK targets keyed by entity name
    (e.g. {"customers": df}); omitted parents skip their FK rule
    (batch-local validation).
    """
    parents = parents or {}
    out = check_rows(df, entity_row_rules(name))

    if name == "customers":
        out = check_unique(out, ["email"], ["created_at", "customer_id"], "customer_email_unique")
    if name == "order_items":
        out = check_unique(
            out, ["order_id", "product_id"], ["quantity", "unit_price"], "item_order_product_unique"
        )
        if "orders" in parents:
            out = check_fk(out, "order_id", parents["orders"], "order_id", "item_fk_order")
        if "products" in parents:
            out = check_fk(out, "product_id", parents["products"], "product_id", "item_fk_product")
    if name == "orders" and "customers" in parents:
        out = check_fk(out, "customer_id", parents["customers"], "customer_id", "order_fk_customer")
    if name == "events" and "customers" in parents:
        out = check_fk(out, "customer_id", parents["customers"], "customer_id", "event_fk_customer")
    return out


def validate_entity(
    name: str,
    df: DataFrame,
    parents: dict[str, DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """:func:`check_entity` routed: returns (valid, quarantine, metrics)."""
    valid, quarantine = split_valid(check_entity(name, df, parents))
    return valid, quarantine, quarantine_metrics(quarantine, name)


def order_total_check(orders: DataFrame) -> DataFrame:
    """R12 re-aggregation check: header ``total`` must equal the
    per-line ``bround(quantity*unit_price, 2)`` summed then brounded —
    the reference's ``Order.compute_total`` contract
    (``src/data_generator/schemas.py:79-82``).

    Narrow: computed from the nested items array, no shuffle. Returns
    the input plus ``computed_total`` and boolean ``total_matches``.
    """
    return orders.withColumn("computed_total", order_total("items")).withColumn(
        "total_matches",
        F.coalesce(F.col("total") == F.col("computed_total"), F.lit(False)),
    )

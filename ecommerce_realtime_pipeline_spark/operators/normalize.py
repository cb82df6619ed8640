"""Normalization ETL operators (SURVEY §2.4 R1, R3, R4, R9–R11, R10).

The reference's declared consume→normalize path: raw JSONB envelope
rows (``sql/init/02_create_tables.sql:9-47``) are parsed into typed
silver tables "matching the Pydantic models exactly" (:49-50), the
nested ``Order.items`` array is exploded into ``order_items`` with a
stored generated ``line_total`` (:93-109), ingestion is made
exactly-once by the ``(topic_partition, topic_offset)`` unique key
(:16), entity tables are last-write-wins by UUID key (compacted
customers topic), and audit timestamps are stamped by trigger
(:143-163).

Scale stance (100 TB):
- ``from_json`` with an explicit StructType (never inference) is a
  narrow codegen'd projection; parse failures become NULL structs and
  route to quarantine instead of being dropped (strict-schema stance).
- Offset dedup is ``dropDuplicates`` on the envelope key — one shuffle,
  and in streaming it rides the watermarked state store instead.
- Key dedup (upsert) is a window ``row_number()==1`` under
  (updated_at DESC, tiebreak) — one shuffle on the entity key.
- ``explode`` is narrow; line_total is computed per line with bround
  (HALF_UP, matching DECIMAL(10,2) storage semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ecommerce_realtime_pipeline_spark.catalog import MONEY, money

from ecommerce_realtime_pipeline_spark.schemas import ENTITY_SCHEMAS

ENVELOPE_KEY = ["topic", "topic_partition", "topic_offset"]

#: Last-write-wins ordering column per entity (R4). Events are immutable
#: facts with no ``updated_at`` — their event time is the write order.
ORDER_COLS = {
    "products": "updated_at",
    "customers": "updated_at",
    "orders": "updated_at",
    "events": "timestamp",
}


def dedup_offsets(raw: DataFrame) -> DataFrame:
    """R3 exactly-once landing: drop replayed (topic, partition, offset)
    rows — the Spark form of the raw tables' UNIQUE constraint."""
    return raw.dropDuplicates(ENVELOPE_KEY)


def parse_envelope(raw: DataFrame, entity: str) -> tuple[DataFrame, DataFrame]:
    """R1: raw JSON payload → typed columns via the entity's declared
    StructType. Returns (typed, parse_quarantine); a payload that fails
    to parse (NULL struct) or lacks the entity's id is quarantined with
    the raw row intact for reprocessing (the JSONB audit-table intent).
    ``consumed_at`` is cast to the envelope's TIMESTAMP, so the typed
    rows match ``schemas.silver_schema`` whatever the batch frame
    carried (a hand-built batch may hold it as an ISO string).
    """
    schema = ENTITY_SCHEMAS[entity]
    id_field = schema.fields[0].name  # product_id / customer_id / order_id / event_id
    parsed = raw.withColumn("_payload", F.from_json(F.col("payload"), schema))
    bad = parsed.filter(
        F.col("_payload").isNull() | F.col(f"_payload.{id_field}").isNull()
    ).drop("_payload")
    good = parsed.filter(
        F.col("_payload").isNotNull() & F.col(f"_payload.{id_field}").isNotNull()
    )
    typed = good.select(
        *ENVELOPE_KEY,
        F.col("consumed_at").cast(T.TimestampType()).alias("consumed_at"),
        F.col("_payload.*"),
    )
    return typed, bad


def latest_by_key(df: DataFrame, key: str, order_col: str = "updated_at") -> DataFrame:
    """R4 last-write-wins upsert (compacted-topic semantics): one row
    per key, newest ``order_col`` wins; offset is the deterministic
    tiebreak for same-timestamp rewrites."""
    tiebreaks = [F.col(c).desc() for c in ENVELOPE_KEY if c in df.columns]
    rn = F.row_number().over(
        Window.partitionBy(key).orderBy(F.col(order_col).desc_nulls_last(), *tiebreaks)
    )
    return df.withColumn("_rn", rn).filter(F.col("_rn") == 1).drop("_rn")


def stamp_audit(df: DataFrame) -> DataFrame:
    """R10 audit-timestamp stamping (the BEFORE UPDATE trigger +
    inserted_at defaults): processing-time columns added at write."""
    now = F.current_timestamp()
    return df.withColumn("inserted_at", now).withColumn("last_modified", now)


def explode_order_items(orders: DataFrame) -> DataFrame:
    """R11 + R9: unnest ``items`` into the order_items child table with
    the generated ``line_total = bround(quantity * unit_price, 2)``.

    Narrow (no shuffle); empty/null items arrays produce no child rows,
    mirroring the relational model.
    """
    item = F.explode("items").alias("item")
    return (
        orders.select("order_id", item)
        .select(
            "order_id",
            F.col("item.product_id").alias("product_id"),
            F.col("item.quantity").alias("quantity"),
            F.col("item.unit_price").alias("unit_price"),
        )
        .withColumn(
            "line_total",
            F.bround(money("quantity") * F.col("unit_price"), 2).cast(
                T.DecimalType(10, 2)
            ),
        )
    )


def normalize_entity(raw: DataFrame, entity: str) -> tuple[DataFrame, DataFrame]:
    """Envelope → silver for one entity: offset dedup → typed parse →
    last-write-wins by entity key → audit stamp.

    Returns (silver, parse_quarantine). For orders, pair with
    ``explode_order_items`` for the child table.
    """
    schema = ENTITY_SCHEMAS[entity]
    id_field = schema.fields[0].name
    typed, bad = parse_envelope(dedup_offsets(raw), entity)
    silver = stamp_audit(latest_by_key(typed, id_field, ORDER_COLS[entity]))
    return silver, bad


def snapshot_diff(
    old: DataFrame, new: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Change-data-capture diff of two snapshots of the same table:
    one full-outer equi-join on the key, non-key columns compared via
    a row fingerprint built from PER-COLUMN md5s (fixed-width parts,
    so no separator byte inside a value can shift column boundaries —
    hashing the raw concatenation would mis-equate
    ('a\\x01','b') with ('a','\\x01b'); NULL maps to a non-hex marker
    distinct from any md5, so NULL vs 'null' can't collide either).
    Output: the key columns + `op` ∈ {'insert','delete','update'} —
    unchanged rows are dropped, which is the point: the diff IS the
    change feed a downstream consumer replays.

    Scale: ONE shuffle per side on the key (the join), comparison is
    a narrow projection. This is the backfill/repair primitive for
    the bucketed silver layer — at 100 TB run it per bucket
    (partition-pruned on both sides) so each diff unit is
    executor-sized."""
    val_cols = [c for c in old.columns if c not in key_cols]
    if set(val_cols) != set(c for c in new.columns if c not in key_cols):
        raise ValueError("snapshot_diff: schemas differ beyond key columns")

    def fp(df: DataFrame) -> F.Column:
        parts = [
            F.coalesce(F.md5(F.col(c).cast("string")), F.lit("@null"))
            for c in val_cols
        ]
        return F.md5(F.concat(*parts))

    o = old.select(*key_cols, fp(old).alias("_fp_old"))
    n = new.select(*key_cols, fp(new).alias("_fp_new"))
    joined = o.join(n, key_cols, "full_outer")
    op = (
        F.when(F.col("_fp_old").isNull(), F.lit("insert"))
        .when(F.col("_fp_new").isNull(), F.lit("delete"))
        .when(F.col("_fp_old") != F.col("_fp_new"), F.lit("update"))
    )
    return (
        joined.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select(*key_cols, "op")
    )


def incremental_agg(
    old: DataFrame,
    new: DataFrame,
    diff: DataFrame,
    key_cols: list[str],
    group_col: str,
    sum_col: str,
) -> DataFrame:
    """Incremental materialized-aggregate maintenance: refresh a
    per-group (count, sum) aggregate from a CDC change feed WITHOUT
    rescanning the new snapshot — the view-maintenance primitive that
    turns :func:`snapshot_diff`'s change feed into updated KPIs.

    Algebra (count/sum are self-maintainable):
    - delete  → retract the OLD row's contribution from its group
    - insert  → add the NEW row's contribution to its group
    - update  → retract old + add new (handles group-moving updates:
      the retraction lands on the OLD group, the addition on the NEW
      group — asserted in tests with a segment-changing update)
    Groups whose maintained count reaches 0 drop out, exactly as a
    recompute would drop them.

    Exactness: contributions are summed as exact money
    (``catalog.MONEY``), so
    the incremental total is partition-order-independent and equals
    the direct recompute bit-for-bit — the property the driver oracle
    (direct aggregation over the new snapshot) hash-proves.

    Scale: the whole refresh touches |diff| rows, not |snapshot| —
    two equi-joins of the (small) diff against the snapshots for value
    lookup (at 100 TB both sides are bucketed on the key, so the
    lookups are partition-pruned per-bucket joins), one groupBy over
    the touched groups, and a full-outer merge against the
    group-cardinality-sized old aggregate. The new snapshot is only
    read at diff keys; there is no full second scan.
    """
    d_val = money(sum_col)
    old_agg = old.groupBy(group_col).agg(
        F.count("*").alias("_n"), F.sum(d_val).alias("_s")
    )
    delta = cdc_delta(old, new, diff, key_cols, group_col, sum_col)
    prev = old_agg.select(
        group_col, F.col("_n").alias("n_rows"), F.col("_s").alias("sum_val")
    )
    return merge_agg_delta(prev, delta, group_col)


def cdc_delta(
    old: DataFrame,
    new: DataFrame,
    diff: DataFrame,
    key_cols: list[str],
    group_col: str,
    sum_col: str,
) -> DataFrame:
    """The retract/add delta kernel shared by :func:`incremental_agg`
    and the bucketed per-bucket CDC loop (``ingest.cdc_refresh_buckets``):
    (_g, _dn, _ds) per touched group from the diff's value lookups.
    ``old``/``new`` may be PRUNED to the touched buckets — every diff
    key's pre/post row lives in those buckets by construction (the
    bucket function is a pure function of the key)."""
    d_val = money(sum_col)
    retract = (
        diff.filter(F.col("op") != "insert")
        .select(*key_cols)
        .join(old, key_cols)
        .select(
            F.col(group_col).alias("_g"),
            F.lit(-1).cast("long").alias("_dn"),
            (-d_val).alias("_ds"),
        )
    )
    add = (
        diff.filter(F.col("op") != "delete")
        .select(*key_cols)
        .join(new, key_cols)
        .select(
            F.col(group_col).alias("_g"),
            F.lit(1).cast("long").alias("_dn"),
            d_val.alias("_ds"),
        )
    )
    return (
        retract.unionByName(add)
        .groupBy("_g")
        .agg(F.sum("_dn").alias("_dn"), F.sum("_ds").alias("_ds"))
    )


def merge_agg_delta(prev: DataFrame, delta: DataFrame, group_col: str) -> DataFrame:
    """The (count, sum) view-maintenance MERGE shared by the batch
    :func:`incremental_agg` and the streaming continuous aggregate
    (``streaming/contagg``): full-outer join the previous aggregate
    ``(group, n_rows, sum_val)`` with the delta ``(_g, _dn, _ds)``,
    coalesce both sides, drop groups whose maintained count reaches 0
    (exactly what a recompute would drop). ONE implementation so the
    batch and streaming paths cannot drift."""
    merged = prev.join(
        delta, prev[group_col] == delta["_g"], "full_outer"
    ).select(
        F.coalesce(F.col(group_col), F.col("_g")).alias(group_col),
        (
            F.coalesce(F.col("n_rows"), F.lit(0))
            + F.coalesce(F.col("_dn"), F.lit(0))
        ).alias("_n"),
        (
            F.coalesce(F.col("sum_val"), F.lit(0).cast(MONEY))
            + F.coalesce(F.col("_ds"), F.lit(0).cast(MONEY))
        ).cast(MONEY).alias("_s"),
    )
    return merged.filter(F.col("_n") > 0).select(
        group_col, F.col("_n").alias("n_rows"), F.col("_s").alias("sum_val")
    )

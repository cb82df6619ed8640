"""Temporal-join queries: as-of attribution and range-window attribution.

The reference's funnel-analysis workload (reference README.md:15;
the (user_id, created_at) composite indexes in
sql/init/03_create_indexes.sql exist exactly to serve "events near this
event" lookups) implies two joins Postgres does with an index scan and
Spark needs a distributed shape for:

- ``events_asof_attribution`` — for every purchase, the same user's
  most recent page view at-or-before it ("which view led to this
  purchase"). Runs on :func:`operators.temporal.asof_join` (union +
  window: one shuffle, no join blow-up).
- ``events_range_attribution`` — for every purchase, the same user's
  click count/value in the preceding hour. Runs on
  :func:`operators.temporal.range_join` (time-bucketed equi-join).

Determinism contract: timestamps surface as ``unix_micros`` bigints
(bit-exact across engines), money sums go through DECIMAL(18,2), view
ties break on the highest view_id in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark.catalog import MONEY, load_table, money
from ecommerce_realtime_pipeline_spark.operators import temporal as T


def events_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase → most recent preceding view (per user, inclusive).

    Scale: both sides are pruned, filtered scans of events (predicate
    pushdown on event_type); the as-of core is one shuffle on user_id +
    a sort — no inequality join, so a user with 10^6 events costs
    n log n, not n².
    """
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", "ts"
    )
    m = T.asof_join(p, v, on="user_id", right_id="view_id", prefix="r_")
    return m.select(
        "purchase_id",
        "user_id",
        F.unix_micros("ts").alias("purchase_us"),
        F.col("r_view_id").alias("view_id"),
        F.unix_micros("r_ts").alias("view_us"),
        (F.unix_micros("ts") - F.unix_micros("r_ts")).alias("gap_us"),
    )


def events_range_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase → same-user click count + DECIMAL-exact click value in
    the strictly-preceding hour ``[ts-1h, ts)``; purchases with no
    clicks kept at zero.

    Scale: the range core is an equi-join on (user_id, hour-bucket)
    with a constant 2× explode of the (smaller) purchase side — a
    shuffled hash join Catalyst/AQE can plan, never a per-key cross
    product. The zero-preserving left join shuffles on purchase_id.
    """
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts", "value"
    )
    pairs = T.range_join(p, c, on="user_id", lower_sec=-3600, upper_sec=0)
    agg = pairs.groupBy("purchase_id").agg(
        F.count("*").alias("_n"),
        F.sum(money("value")).alias("_v"),
    )
    return p.join(agg, "purchase_id", "left").select(
        "purchase_id",
        "user_id",
        F.unix_micros("ts").alias("purchase_us"),
        F.coalesce("_n", F.lit(0)).alias("n_clicks"),
        F.round(F.coalesce(F.col("_v"), F.lit(0).cast(MONEY)), 2)
        .cast("double")
        .alias("click_value"),
    )


ORACLES: dict[str, str] = {
    # LATERAL top-1 per purchase, tie-break (ts DESC, view_id DESC) —
    # the same winner asof_join's window order picks.
    "events_asof_attribution": """
        WITH p AS (
            SELECT event_id AS purchase_id, user_id, ts
            FROM events WHERE event_type = 'purchase'
        ),
        v AS (
            SELECT event_id AS view_id, user_id, ts
            FROM events WHERE event_type = 'view'
        )
        SELECT p.purchase_id,
               p.user_id,
               epoch_us(p.ts) AS purchase_us,
               m.view_id,
               epoch_us(m.ts) AS view_us,
               epoch_us(p.ts) - epoch_us(m.ts) AS gap_us
        FROM p LEFT JOIN LATERAL (
            SELECT v.view_id, v.ts
            FROM v
            WHERE v.user_id = p.user_id AND v.ts <= p.ts
            ORDER BY v.ts DESC, v.view_id DESC
            LIMIT 1
        ) m ON true
    """,
    # plain inequality join is fine for the small-SF oracle; the Spark
    # path never runs this shape.
    "events_range_attribution": """
        WITH p AS (
            SELECT event_id AS purchase_id, user_id, ts
            FROM events WHERE event_type = 'purchase'
        ),
        c AS (
            SELECT user_id, ts, value
            FROM events WHERE event_type = 'click'
        ),
        agg AS (
            SELECT p.purchase_id,
                   count(*) AS _n,
                   SUM(CAST(c.value AS DECIMAL(18,2))) AS _v
            FROM p JOIN c
              ON c.user_id = p.user_id
             AND c.ts >= p.ts - INTERVAL 1 HOUR
             AND c.ts < p.ts
            GROUP BY 1
        )
        SELECT p.purchase_id,
               p.user_id,
               epoch_us(p.ts) AS purchase_us,
               COALESCE(agg._n, 0) AS n_clicks,
               CAST(ROUND(COALESCE(agg._v, 0), 2) AS DOUBLE) AS click_value
        FROM p LEFT JOIN agg USING (purchase_id)
    """,
}


def events_view_to_purchase_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of: for every view, the same user's FIRST purchase
    at-or-after it — the view→conversion lag feed (the mirror of
    `events_asof_attribution`'s backward "which view led here").
    Ties at the same timestamp resolve to the LOWEST purchase_id
    ("first after" convention, mirrored in the oracle). Views with no
    later purchase keep NULLs. Same one-shuffle union+window core,
    just time-reversed — still no inequality join."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", "ts"
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    m = T.asof_join(
        v, p, on="user_id", right_id="purchase_id", prefix="r_",
        direction="forward",
    )
    return m.select(
        "view_id",
        "user_id",
        F.unix_micros("ts").alias("view_us"),
        F.col("r_purchase_id").alias("purchase_id"),
        F.unix_micros("r_ts").alias("purchase_us"),
        (F.unix_micros("r_ts") - F.unix_micros("ts")).alias("lag_us"),
    )


ORACLES["events_view_to_purchase_asof"] = """
    WITH v AS (
        SELECT event_id AS view_id, user_id, ts
        FROM events WHERE event_type = 'view'
    ),
    p AS (
        SELECT event_id AS purchase_id, user_id, ts
        FROM events WHERE event_type = 'purchase'
    )
    SELECT v.view_id,
           v.user_id,
           epoch_us(v.ts) AS view_us,
           m.purchase_id,
           epoch_us(m.ts) AS purchase_us,
           epoch_us(m.ts) - epoch_us(v.ts) AS lag_us
    FROM v LEFT JOIN LATERAL (
        SELECT p.purchase_id, p.ts
        FROM p
        WHERE p.user_id = v.user_id AND p.ts >= v.ts
        ORDER BY p.ts ASC, p.purchase_id ASC
        LIMIT 1
    ) m ON TRUE
"""

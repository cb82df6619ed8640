"""KPI / analytics queries — the reference's declared dashboard workload.

The reference declares (README.md:15, sql/init/03_create_indexes.sql:27-77)
but never implements: orders-per-minute, revenue trends, top products,
funnel analysis, customer history, data-quality metrics. Here each is a
named function ``(spark, sf_dir) -> DataFrame`` over the driver testdata,
expressed declaratively so Catalyst gets pushdown/pruning/broadcast for
free. This module holds the dashboard, customer and event KPIs, the
sketches and quantiles, pivots and windows; the rest of the KPI family
lives in ``tpch.py`` (supplier/nation analytics), ``graph.py``
(co-purchase graph) and ``mining.py`` (baskets, attribution, paths,
cohorts), under the same contract.

Determinism contract (for the DuckDB oracle hash-diff): money math is
done in DECIMAL (``catalog.money``: exact, order-independent sums), only
the final result is cast to DOUBLE (``catalog.as_double``); time buckets
are emitted as formatted strings so both engines hash identical values.
Each query's oracle, its ``ORACLES`` entry right after it, follows the
same rules: DECIMAL(18,2) before summing, then ROUND(...,2) and CAST AS
DOUBLE; strftime time buckets; integer sums cast to BIGINT (DuckDB's
SUM(int) is HUGEINT); every computed column aliased exactly as the
DataFrame aliases it.

Scale notes (100 TB stance) are on each function: which side broadcasts,
what the shuffle key is, why the aggregate is partial-agg friendly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark.catalog import MONEY, as_double, load_table, money
from ecommerce_realtime_pipeline_spark.storage import read_parquet
from ecommerce_realtime_pipeline_spark.plans import fixtures as FX

#: query name -> DuckDB oracle SQL, one entry per query of this module
ORACLES: dict[str, str] = {}


def revenue_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R14 'revenue trends': daily order revenue + order count.

    Scale: single shuffle on the (low-cardinality) day bucket with full
    map-side partial aggregation; scan reads only 2 columns (pruned).
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.date_format(F.date_trunc("day", "o_orderdate"), "yyyy-MM-dd").alias("order_day"))
        .agg(
            F.count("*").alias("n_orders"),
            as_double(F.sum(money("o_totalprice"))).alias("revenue"),
        )
    )


ORACLES["revenue_trend_daily"] = """
        SELECT strftime(date_trunc('day', o_orderdate), '%Y-%m-%d') AS order_day,
               count(*) AS n_orders,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
        FROM orders
        GROUP BY 1
    """


def orders_per_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R13 'orders per minute' KPI over the event stream table.

    Tumbling 1-minute buckets via date_trunc: pure map-side bucket +
    count, one shuffle on the bucket key.
    """
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_format(F.date_trunc("minute", "ts"), "yyyy-MM-dd HH:mm:ss").alias("minute")
        )
        .agg(F.count("*").alias("n_events"))
    )


ORACLES["orders_per_minute"] = """
        SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS minute,
               count(*) AS n_events
        FROM events
        GROUP BY 1
    """


def revenue_trend_hourly_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R14 sliding-trend variant: hourly value sums per event type."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            as_double(F.sum(F.col("value").cast(MONEY))).alias("total_value"),
        )
    )


ORACLES["revenue_trend_hourly_by_type"] = """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
               event_type,
               count(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1, 2
    """


def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R13/R14 hopping-window variant: 10-minute windows sliding every
    5 minutes over the event stream table (each event lands in exactly
    2 overlapping windows). This is the batch-exact twin of the
    streaming `window(ts, '10 minutes', '5 minutes')` aggregation —
    the trend line dashboards actually plot (overlap smooths bucket
    boundaries that tumbling windows cut arbitrarily).

    Scale: `window()` explodes each row into duration/slide = 2 window
    structs BEFORE the shuffle, so the plan stays one partial-agg
    shuffle on the (low-cardinality) window-start key — identical
    shape to the tumbling-bucket KPI, just 2× the pre-agg rows. No
    self-join, no range join.
    """
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            as_double(F.sum(F.col("value").cast(MONEY))).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "total_value",
        )
    )


# events_sliding_window: every ts is covered by exactly the two
# 10-min windows starting at trunc5(ts) and trunc5(ts)-5min
# (trunc5(ts) > ts-5min, so both starts are > ts-10min), which is
# precisely Spark's window(ts,'10 minutes','5 minutes') expansion.
ORACLES["events_sliding_window"] = """
        WITH expanded AS (
            SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, value
            FROM events,
                 unnest([date_trunc('minute', ts)
                             - INTERVAL (EXTRACT(minute FROM ts)::INT % 5) MINUTE,
                         date_trunc('minute', ts)
                             - INTERVAL (EXTRACT(minute FROM ts)::INT % 5) MINUTE
                             - INTERVAL 5 MINUTE]) AS t(ws)
        )
        SELECT window_start,
               count(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
        FROM expanded
        GROUP BY 1
    """


def top_products_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R15 'top products': lineitem ⋈ part, top 10 by discounted revenue.

    Scale: part is the small dim → broadcast join (no shuffle of the
    fact table); aggregate shuffles on p_partkey only after map-side
    partial agg. Deterministic tiebreak on p_partkey.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    revenue = money("l_extendedprice") * (F.lit(1).cast(MONEY) - money("l_discount"))
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy("p_partkey", "p_name")
        .agg(
            as_double(F.sum(revenue)).alias("revenue"),
            F.sum("l_quantity").cast("double").alias("total_qty"),
            F.count("*").alias("n_lines"),
        )
        .orderBy(F.desc("revenue"), F.asc("p_partkey"))
        .limit(10)
    )


ORACLES["top_products_by_revenue"] = """
        SELECT p_partkey, p_name,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                               * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue,
               CAST(SUM(l_quantity) AS DOUBLE) AS total_qty,
               count(*) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY 1, 2
        ORDER BY revenue DESC, p_partkey ASC
        LIMIT 10
    """


def top_customers_by_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R15/R22: top 10 customers by total order spend (orders ⋈ customer)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        orders.groupBy("o_custkey")
        .agg(
            as_double(F.sum(money("o_totalprice"))).alias("total_spend"),
            F.count("*").alias("n_orders"),
        )
        .join(F.broadcast(customer), F.col("o_custkey") == customer.c_custkey)
        .select("c_custkey", "c_name", "c_mktsegment", "total_spend", "n_orders")
        .orderBy(F.desc("total_spend"), F.asc("c_custkey"))
        .limit(10)
    )


ORACLES["top_customers_by_spend"] = """
        WITH spend AS (
            SELECT o_custkey,
                   CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_spend,
                   count(*) AS n_orders
            FROM orders GROUP BY 1
        )
        SELECT c_custkey, c_name, c_mktsegment, total_spend, n_orders
        FROM spend JOIN customer ON o_custkey = c_custkey
        ORDER BY total_spend DESC, c_custkey ASC
        LIMIT 10
    """


def _customer_geo_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared join tree for the nation-revenue family.

    Scale: the fact table (orders) is pre-aggregated by ``o_custkey``
    BEFORE joining customers — the shuffle carries one row per customer
    instead of one per order (orders/customer ratio smaller). nation and
    region are tiny broadcast dims; customer⋈spend is the only real
    shuffle and AQE picks broadcast vs sort-merge from actual size.
    Emits ``_spend`` (exact decimal) + ``_cnt`` per customer with geo
    columns attached.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(money("o_totalprice")).alias("_spend"),
        F.count("*").alias("_cnt"),
    )
    return (
        per_cust.join(customer, per_cust.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )


def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-flavor multi-join: revenue per customer nation."""
    return _customer_geo_spend(spark, sf_dir).groupBy("r_name", "n_name").agg(
        as_double(F.sum("_spend")).alias("revenue"),
        F.sum("_cnt").alias("n_orders"),
    )


ORACLES["revenue_by_nation"] = """
        SELECT r_name, n_name,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
               count(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1, 2
    """


def revenue_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R24 grouping-sets/ROLLUP: revenue at (region, nation), (region), ().

    Spark ROLLUP == SQL ROLLUP; null group keys coalesced to 'ALL' so the
    oracle hashes identically. Reuses the pre-aggregated join tree of
    ``revenue_by_nation``.
    """
    return (
        _customer_geo_spend(spark, sf_dir)
        .rollup("r_name", "n_name")
        .agg(
            as_double(F.sum("_spend")).alias("revenue"),
            F.sum("_cnt").alias("n_orders"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "revenue",
            "n_orders",
        )
    )


ORACLES["revenue_rollup_region_nation"] = """
        SELECT COALESCE(r_name, 'ALL') AS region,
               COALESCE(n_name, 'ALL') AS nation,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
               count(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
    """


def order_status_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2/R21: status filter domain + counts (mirrors the reference's
    partial index WHERE status IN (...) workload)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        as_double(F.sum(money("o_totalprice"))).alias("revenue"),
        as_double(F.min(money("o_totalprice"))).alias("min_price"),
        as_double(F.max(money("o_totalprice"))).alias("max_price"),
    )


ORACLES["order_status_distribution"] = """
        SELECT o_orderstatus,
               count(*) AS n_orders,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
               CAST(ROUND(MIN(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS min_price,
               CAST(ROUND(MAX(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS max_price
        FROM orders
        GROUP BY 1
    """


def customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R17 customer-history slice: per-customer order time-series summary.

    Scale: one shuffle on o_custkey (the reference's composite index
    (customer_id, created_at) becomes the shuffle+sort key).
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count("*").alias("n_orders"),
        as_double(F.sum(money("o_totalprice"))).alias("lifetime_value"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_order"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("last_order"),
    )


ORACLES["customer_history"] = """
        SELECT o_custkey AS custkey,
               count(*) AS n_orders,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS lifetime_value,
               strftime(MIN(o_orderdate), '%Y-%m-%d') AS first_order,
               strftime(MAX(o_orderdate), '%Y-%m-%d') AS last_order
        FROM orders
        GROUP BY 1
    """


def funnel_stage_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R16 funnel: per-stage event and unique-user counts."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


ORACLES["funnel_stage_counts"] = """
        SELECT event_type,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY 1
    """


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R16 funnel conversion: users whose first 'view' precedes their
    last 'purchase' (view→purchase conversion), vs stage user counts.

    Expressed as conditional aggregation — one shuffle on user_id, no
    self-join (the naive events-to-events join would be quadratic in
    hot users at 100 TB).
    """
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("last_purchase"),
    )
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.count("first_view").alias("n_viewers"),
        F.count("last_purchase").alias("n_purchasers"),
        F.sum(
            F.when(F.col("first_view") < F.col("last_purchase"), 1).otherwise(0)
        ).alias("n_converted"),
    )


ORACLES["funnel_conversion"] = """
        SELECT count(*) AS n_users,
               count(first_view) AS n_viewers,
               count(last_purchase) AS n_purchasers,
               CAST(SUM(CASE WHEN first_view < last_purchase THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
        FROM (
            SELECT user_id,
                   min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
                   max(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase
            FROM events
            GROUP BY user_id
        )
    """


def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R16/§2.7 session windows (30-min inactivity gap), batch flavor.

    Window(lag) + cumulative-sum-of-gap-flags: one shuffle+sort on
    (user_id, ts) — the classic scalable sessionization (no per-user
    collect, works on arbitrarily long histories).
    """
    events = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts")
    # microsecond-exact integer gap: deterministic across engines
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    with_flag = events.withColumn(
        "new_session", F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    )
    return with_flag.groupBy("user_id").agg(
        F.sum("new_session").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


ORACLES["sessionization"] = """
        WITH flagged AS (
            SELECT user_id,
                   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                             OR epoch_us(ts)
                                - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800000000
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        )
        SELECT user_id,
               CAST(SUM(new_session) AS BIGINT) AS n_sessions,
               count(*) AS n_events
        FROM flagged
        GROUP BY user_id
    """


def sessionization_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R16/§2.7 sessionization via the BUILT-IN ``session_window``
    (SURVEY §2.7 "session windows optional extra") — the same operator
    the streaming path uses (streaming/ingest.py), here in batch, so
    batch and streaming sessionization share one definition.

    Boundary semantics (probed, and pinned in tests): Spark merges an
    event at exactly ``prev + gap`` into the running session — a new
    session starts only when the gap is STRICTLY exceeded — which is
    identical to :func:`sessionization`'s ``gap > 30min`` flag, so the
    two implementations are exactly equivalent, not approximately.

    Output: one row per (user, session) with start/end (end = last
    event + gap, Spark's definition) and the event count.

    Scale: session_window compiles to the same single shuffle+sort on
    (user_id, ts) as the gap-lag form — no extra stage.
    """
    events = load_table(spark, sf_dir, "events")
    sw = events.groupBy(
        F.session_window("ts", "30 minutes").alias("w"), "user_id"
    ).agg(F.count("*").alias("n_events"))
    return sw.select(
        "user_id",
        F.unix_micros("w.start").alias("session_start_us"),
        F.unix_micros("w.end").alias("session_end_us"),
        "n_events",
    )


# session_window twin: island detection via lag-gap flag + running
# sum. Spark merges an event at EXACTLY prev+gap (new session only
# when the gap is strictly exceeded — probed, pinned in tests), so
# the flag uses `>`. Session end = last event + gap (Spark's
# session_window.end definition). Equal-ts ties can't flip the
# flag (gap 0 is never > 30min), so lag's tie order is immaterial.
ORACLES["sessionization_session_window"] = """
        WITH flagged AS (
            SELECT user_id, epoch_us(ts) AS us,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                > 1800000000
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        sess AS (
            SELECT user_id, us,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY us
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS sid
            FROM flagged
        )
        SELECT user_id,
               MIN(us) AS session_start_us,
               MAX(us) + 1800000000 AS session_end_us,
               count(*) AS n_events
        FROM sess
        GROUP BY user_id, sid
    """


def jsonb_adhoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R20 JSONB ad-hoc query: key extraction + containment over the raw
    JSON props column (the reference's GIN-index workload →
    get_json_object over a string column; at rest this would be a
    parsed struct column with pushdown)."""
    events = load_table(spark, sf_dir, "events")
    # try_cast: a non-numeric props.$.k must yield null (and be filtered),
    # not hard-error under ANSI mode — mirrors TRY_CAST in the oracle.
    k = F.get_json_object("props", "$.k").try_cast("int")
    return (
        events.select(k.alias("k"))
        .filter(F.col("k").isNotNull() & (F.col("k") >= 50))
        .groupBy("k")
        .agg(F.count("*").alias("n"))
    )


ORACLES["jsonb_adhoc"] = """
        SELECT TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k,
               count(*) AS n
        FROM events
        WHERE TRY_CAST(json_extract_string(props, '$.k') AS INT) >= 50
        GROUP BY 1
    """


def throughput_per_topic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R21 count/throughput agg: per event_type msgs/sec over the table's
    time span (mirrors the reference's throughput assertions).

    Scale: ONE scan of events — per-type min/max µs ride along in the
    grouped aggregate, and the global span is an unpartitioned window
    over the already-aggregated frame (≤ #event_types rows, trivially
    cheap vs the second full scan it replaces).
    """
    from pyspark.sql import Window as W

    events = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    per_type = events.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.min(us).alias("_min_us"),
        F.max(us).alias("_max_us"),
    )
    w = W.partitionBy()  # global window over the tiny aggregated frame
    span_sec = (F.max("_max_us").over(w) - F.min("_min_us").over(w)) / F.lit(1_000_000.0)
    return per_type.select(
        "event_type",
        "n_events",
        F.round(F.col("n_events") / span_sec, 6).alias("events_per_sec"),
    )


ORACLES["throughput_per_topic"] = """
        SELECT event_type,
               count(*) AS n_events,
               ROUND(count(*) / (SELECT (max(epoch_us(ts)) - min(epoch_us(ts))) / 1000000.0 FROM events), 6) AS events_per_sec
        FROM events
        GROUP BY 1
    """


def events_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type TWO ways: exact countDistinct and
    the engine-portable HyperLogLog sketch (`operators/sketch.py`) —
    the approximate-aggregation path a 100 TB dashboard actually
    serves from (registers are mergeable max-state; re-aggregation
    never re-reads raw data). The md5-derived registers and the exact
    integer register fold make the ESTIMATE itself bit-identical in
    DuckDB, so this query is hash-match oracled — an approximate
    algorithm under an exact correctness gate. Estimate quality vs
    exact is additionally bounded in tests (HLL's ~1.04/√256 ≈ 6.5%
    standard error)."""
    from ecommerce_realtime_pipeline_spark.operators.sketch import hll_distinct

    events = load_table(spark, sf_dir, "events")
    est = hll_distinct(events, "user_id", ["event_type"])
    exact = events.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("exact_distinct"),
    )
    return (
        exact.join(est, "event_type")
        .select(
            "event_type",
            "n_events",
            "exact_distinct",
            F.round("hll_estimate", 2).alias("hll_estimate"),
        )
        .orderBy("event_type")
    )


# events_hll_users: full HLL replica — md5 registers, exact integer
# register fold (DECIMAL sum of 2^(61-M_j)), one double division,
# textbook linear-counting rule. Bit-identical estimate by design.
ORACLES["events_hll_users"] = """
        WITH r AS (
            SELECT event_type,
                   CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))::BIGINT
                        AS INT) AS bkt,
                   ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 15))::BIGINT AS v
            FROM events
        ),
        regs AS (
            SELECT event_type, bkt,
                   MAX(CASE WHEN v = 0 THEN 61
                            ELSE 60 - CAST(FLOOR(log2(v)) AS INT) END) AS m
            FROM r GROUP BY 1, 2
        ),
        folded AS (
            SELECT event_type,
                   SUM(CAST(pow(2, 61 - m) AS DECIMAL(38,0))) AS s,
                   COUNT(*) AS present
            FROM regs GROUP BY 1
        ),
        est AS (
            SELECT event_type,
                   (256 - present)
                       + CAST(s AS DOUBLE) / CAST(2305843009213693952 AS DOUBLE)
                       AS sum_inv,
                   256 - present AS v_empty
            FROM folded
        ),
        scored AS (
            SELECT event_type,
                   CAST(0.7213 AS DOUBLE) / (1 + CAST(1.079 AS DOUBLE) / 256)
                       * 256 * 256 / sum_inv AS e_raw,
                   v_empty
            FROM est
        ),
        final AS (
            SELECT event_type,
                   CASE WHEN e_raw <= CAST(2.5 AS DOUBLE) * 256 AND v_empty > 0
                        THEN 256 * ln(256 / v_empty)
                        ELSE e_raw END AS hll_estimate
            FROM scored
        ),
        exact AS (
            SELECT event_type, count(*) AS n_events,
                   count(DISTINCT user_id) AS exact_distinct
            FROM events GROUP BY 1
        )
        SELECT event_type, n_events, exact_distinct,
               ROUND(hll_estimate, 2) AS hll_estimate
        FROM exact JOIN final USING (event_type)
        ORDER BY event_type
    """


def events_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter frequency estimation via the engine-portable
    Count-Min sketch: build the (d·w = 2048)-counter state over the
    event stream, probe every user, report the top-10 by estimated
    count next to exact counts. All-integer (md5-derived columns,
    count/min folds) ⇒ the estimates hash-match the DuckDB oracle
    exactly; the CM overestimate bound (estimate ≥ true count) is
    pinned in tests. At 100 TB the heavy-hitter dashboard reads the
    2048-row state, not the corpus — and states merge by (r,c) SUM."""
    from ecommerce_realtime_pipeline_spark.operators.sketch import (
        cms_counters,
        cms_estimate,
    )

    events = load_table(spark, sf_dir, "events")
    counters = cms_counters(events, "user_id")
    est = cms_estimate(counters, events, "user_id")
    exact = events.groupBy("user_id").agg(F.count("*").alias("exact_n"))
    return (
        exact.join(est, "user_id")
        .select("user_id", "exact_n", "cms_estimate")
        .orderBy(F.desc("cms_estimate"), "user_id")
        .limit(10)
    )


# events_cms_user_counts: Count-Min replica — salted-md5 counter
# columns, integer count/min folds. Exact parity by construction.
ORACLES["events_cms_user_counts"] = """
        WITH hashed AS (
            SELECT user_id, r,
                   ('0x' || substr(md5(CAST(r AS VARCHAR) || '|'
                                        || CAST(user_id AS VARCHAR)), 1, 4))::BIGINT
                       % 512 AS c
            FROM events, unnest([0, 1, 2, 3]) AS t(r)
        ),
        counters AS (
            SELECT r, c, count(*) AS cnt FROM hashed GROUP BY 1, 2
        ),
        probes AS (
            SELECT DISTINCT user_id, r,
                   ('0x' || substr(md5(CAST(r AS VARCHAR) || '|'
                                        || CAST(user_id AS VARCHAR)), 1, 4))::BIGINT
                       % 512 AS c
            FROM events, unnest([0, 1, 2, 3]) AS t(r)
        ),
        est AS (
            SELECT user_id, MIN(cnt) AS cms_estimate
            FROM probes JOIN counters USING (r, c)
            GROUP BY 1
        ),
        exact AS (
            SELECT user_id, count(*) AS exact_n FROM events GROUP BY 1
        )
        SELECT user_id, exact_n, cms_estimate
        FROM exact JOIN est USING (user_id)
        ORDER BY cms_estimate DESC, user_id
        LIMIT 10
    """


def events_value_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 of event value per type from the 64-bin histogram
    sketch (`operators/sketch.hist_quantiles`) — quantiles the way a
    100 TB dashboard serves them: from mergeable per-group counters,
    not a per-group sort. Deterministic grid + integer counts + a
    fixed interpolation expression ⇒ the ESTIMATES hash-match the
    DuckDB oracle; accuracy vs the exact percentiles is bounded in
    tests by one bin width."""
    from ecommerce_realtime_pipeline_spark.operators.sketch import hist_quantiles

    events = load_table(spark, sf_dir, "events")
    out = hist_quantiles(events, "value", ["event_type"], [0.5, 0.9, 0.99])
    return out.select(
        "event_type", "q", F.round("approx_value", 4).alias("approx_value")
    ).orderBy("event_type", "q")


# events_value_quantile_sketch: histogram-sketch replica — same
# grid (floor((v-mn)/((mx-mn)/64)), clamp 63), integer cumulative
# counts, identical interpolation expression. Estimates match
# bit-for-bit because every float op is the same IEEE sequence.
ORACLES["events_value_quantile_sketch"] = """
        WITH stats AS (
            SELECT event_type, MIN(value) AS mn, MAX(value) AS mx,
                   COUNT(value) AS n
            FROM events GROUP BY 1
        ),
        binned AS (
            SELECT e.event_type, s.mn, s.mx, s.n,
                   CASE WHEN s.mx = s.mn THEN 0
                        ELSE LEAST(63, CAST(FLOOR((e.value - s.mn)
                                 / ((s.mx - s.mn) / 64)) AS INT)) END AS bin
            FROM events e JOIN stats s USING (event_type)
        ),
        counts AS (
            SELECT event_type, mn, mx, n, bin, COUNT(*) AS cnt
            FROM binned GROUP BY 1, 2, 3, 4, 5
        ),
        cum AS (
            SELECT *, SUM(cnt) OVER (PARTITION BY event_type
                                     ORDER BY bin) AS cum
            FROM counts
        ),
        hit AS (
            SELECT c.*, c.cum - c.cnt AS prev, q.q
            FROM cum c,
                 (SELECT CAST(q AS DOUBLE) AS q
                  FROM (VALUES (0.5), (0.9), (0.99)) AS v(q)) q
            WHERE c.cum >= q.q * c.n
        ),
        first_hit AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type, q
                                         ORDER BY bin) AS rn
            FROM hit
        )
        SELECT event_type, q,
               ROUND(mn + ((mx - mn) / 64)
                     * (bin + (q * n - prev) / cnt), 4) AS approx_value
        FROM first_hit WHERE rn = 1
        ORDER BY event_type, q
    """


def events_by_segment_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event value totals per customer market segment, computed through
    the SKEW-SALTED join (`temporal.salted_join`): the hot-key defense
    for when one user dominates the event stream and the dim side
    can't broadcast — the key is spread over 8 salts (deterministic
    xxhash64 of the event id), the dim replicated 8×, and the join
    runs on (key, salt). Salting is a PHYSICAL rewrite only: the
    oracle is the plain unsalted join, so the hash-diff proves result
    invariance — the property that licenses reaching for salt at all.

    Scale: replication cost is 8× the DIM (small) side; the fact side
    gets 8-way finer join groups. AQE skew splitting is the first
    defense; this is the in-plan form for keys AQE can't split.
    """
    from ecommerce_realtime_pipeline_spark.operators.temporal import salted_join

    events = load_table(spark, sf_dir, "events")
    customers = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join(
        events.select("event_id", "user_id", "value"),
        customers,
        on="user_id",
        salt_from="event_id",
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            as_double(F.sum(F.col("value").cast(MONEY))).alias("total_value"),
        )
        .orderBy("c_mktsegment")
    )


# events_by_segment_salted: the oracle is the PLAIN join — salting
# is a physical rewrite and must not change a single row.
ORACLES["events_by_segment_salted"] = """
        SELECT c_mktsegment,
               count(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1
        ORDER BY 1
    """


def events_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event KPI over ONE customer segment via Bloom-pruned semi-join
    (`bloom.bloom_semi_join`): the fact scan is prefiltered by an
    8 KiB engine-portable Bloom filter over the segment's customer
    keys BEFORE the exact semi-join removes the ~0.2% false-positive
    trickle. Like the salted join, the pruning is a PHYSICAL rewrite:
    the oracle is the plain semi-join, so the hash-diff proves the
    no-false-negative property end to end (a single build/probe hash
    divergence would drop rows and break the hash).

    Scale: this is the shape for dim subsets too big to broadcast as
    exact key sets — the filter stays kilobytes as the subset grows
    to tens of millions of keys; the fact side discards non-matches
    at the scan, before any shuffle."""
    from ecommerce_realtime_pipeline_spark.operators.bloom import bloom_semi_join

    events = load_table(spark, sf_dir, "events")
    seg_keys = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    matched = bloom_semi_join(
        events.select("event_id", "user_id", "event_type", "value"),
        seg_keys,
        fact_key="user_id",
        dim_key="c_custkey",
    )
    return (
        matched.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            as_double(F.sum(F.col("value").cast(MONEY))).alias("total_value"),
        )
        .orderBy("event_type")
    )


# events_bloom_semijoin: the oracle is the PLAIN semi-join — Bloom
# pruning is a physical prefilter with no false negatives, so the
# bloom→exact pipeline must reproduce it row-for-row.
ORACLES["events_bloom_semijoin"] = """
        SELECT event_type,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
                   AS total_value
        FROM events e
        WHERE EXISTS (
            SELECT 1 FROM customer c
            WHERE c.c_custkey = e.user_id AND c.c_mktsegment = 'BUILDING'
        )
        GROUP BY 1
        ORDER BY 1
    """


def events_zorder_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering rewrite round-trip (`layout.write_zordered`):
    events re-laid out on the Morton curve over (user_id, value) —
    the multi-column file-skipping layout — then read back and
    aggregated per event_type. The oracle aggregates the RAW table:
    layout is a physical permutation, so the hash-diff proves the
    rewrite loses/duplicates nothing (count, distinct users, decimal
    value total, and min/max key all survive). The file-skipping WIN
    (fewer files intersect a 2-D box predicate than under a 1-D sort)
    is pinned separately in tests via per-file span stats.

    Scale: the rewrite is one range exchange + in-file sort — the
    scheduled clustering job (per day-partition at 100 TB), same
    maintenance slot as ``compact_buckets``."""
    from ecommerce_realtime_pipeline_spark.operators.layout import write_zordered

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    with FX.scratch_dir("eng_zorder_q_") as tmp:
        write_zordered(events, f"{tmp}/events_z", ["user_id", "value"])
        back = read_parquet(spark, f"{tmp}/events_z")
        return (
            back.groupBy("event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.countDistinct("user_id").alias("n_users"),
                as_double(F.sum(F.col("value").cast(MONEY))).alias("total_value"),
                F.min("event_id").alias("min_event_id"),
                F.max("event_id").alias("max_event_id"),
            )
            .orderBy("event_type")
            .localCheckpoint(eager=True)
        )


# events_zorder_roundtrip: the oracle aggregates the RAW table —
# the z-order rewrite is a physical permutation and must preserve
# every row exactly.
ORACLES["events_zorder_roundtrip"] = """
        SELECT event_type,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
                   AS total_value,
               MIN(event_id) AS min_event_id,
               MAX(event_id) AS max_event_id
        FROM events
        GROUP BY 1
        ORDER BY 1
    """


def events_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 hot users via Misra-Gries candidate generation +
    exact recount (`sketch.heavy_hitters_exact`) — the heavy-hitter
    query shape that never shuffles the raw table (bounded
    per-partition summaries → broadcast candidate filter → TakeOrdered).

    The natural corpus is uniform, so the skew regime is PLANTED like
    the embedding dup queries: users 0-7 get their events quadrupled
    (4× count ≈ 300 vs natural max ≈ 86 at sf0.01 — the ratio is
    sf-invariant), which puts the top-5 counts far above the
    N/(capacity+1) certificate threshold (pinned in tests). Oracle =
    plain top-5 SQL over the same planted corpus: a result-invariance
    proof that holds despite eviction-order nondeterminism inside the
    MG summaries."""
    from ecommerce_realtime_pipeline_spark.operators.sketch import (
        heavy_hitters_exact,
    )

    events = load_table(spark, sf_dir, "events").select("user_id")
    hot = events.filter(F.col("user_id") < 8)
    corpus = events.unionByName(hot).unionByName(hot).unionByName(hot)
    return heavy_hitters_exact(corpus, "user_id", k=5, capacity=64).select(
        "user_id", F.col("n_rows").alias("n_events")
    )


# events_heavy_hitters_mg: plain top-5 over the planted-skew
# corpus — result invariance despite MG eviction-order
# nondeterminism (certificate pinned in tests).
ORACLES["events_heavy_hitters_mg"] = """
        WITH corpus AS (
            SELECT user_id FROM events
            UNION ALL
            SELECT user_id FROM events, unnest([1, 2, 3]) AS t(i)
            WHERE user_id < 8
        )
        SELECT user_id, count(*) AS n_events
        FROM corpus
        GROUP BY 1
        ORDER BY n_events DESC, user_id
        LIMIT 5
    """


def events_volume_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume anomaly scan: per-minute event counts z-scored against
    the whole series, top-10 most anomalous minutes — the monitoring
    query behind rate alerts. Exactness: counts are integers, so the
    first/second moments are EXACT integer sums (partition-order
    independent); mean/variance/z are then a fixed chain of IEEE
    double ops — bit-identical across engines (the PageRank/kmeans
    pattern applied to descriptive stats).

    Scale: one time-bucket partial agg (R13's shuffle), a 1-row moment
    broadcast, TakeOrdered top-k."""
    events = load_table(spark, sf_dir, "events")
    per_min = events.groupBy(
        F.date_trunc("minute", F.col("ts")).alias("minute")
    ).agg(F.count("*").alias("n_events"))
    moments = per_min.agg(
        F.count("*").alias("_n"),
        F.sum("n_events").alias("_s1"),
        F.sum(F.col("n_events") * F.col("n_events")).alias("_s2"),
    )
    with_m = per_min.crossJoin(F.broadcast(moments))
    mean = F.col("_s1").cast("double") / F.col("_n")
    var = (
        F.col("_s2").cast("double") - F.col("_s1").cast("double") * mean
    ) / (F.col("_n") - 1)
    z = (F.col("n_events").cast("double") - mean) / F.sqrt(var)
    return (
        with_m.select(
            "minute", "n_events", F.round(z, 6).alias("zscore")
        )
        .orderBy(F.desc(F.abs(F.col("zscore"))), "minute")
        .limit(10)
    )


# events_volume_anomalies: integer moments are exact sums; the
# mean/var/z chain is the same fixed IEEE op sequence as Spark's.
ORACLES["events_volume_anomalies"] = """
        WITH per_min AS (
            SELECT date_trunc('minute', ts) AS minute,
                   count(*) AS n_events
            FROM events GROUP BY 1
        ),
        mom AS (
            SELECT count(*) AS n, SUM(n_events) AS s1,
                   SUM(n_events * n_events) AS s2
            FROM per_min
        ),
        scored AS (
            SELECT minute, n_events,
                   ROUND(
                       (CAST(n_events AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
                       / sqrt((CAST(s2 AS DOUBLE)
                               - CAST(s1 AS DOUBLE)
                                 * (CAST(s1 AS DOUBLE) / n)) / (n - 1)),
                       6
                   ) AS zscore
            FROM per_min, mom
        )
        SELECT minute, n_events, zscore
        FROM scored
        ORDER BY abs(zscore) DESC, minute
        LIMIT 10
    """


def orders_exact_quantiles_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT p50/p90 of order value WITHOUT a global sort
    (`sketch.exact_quantiles_twopass`): histogram pass localizes each
    rank to one of 256 value bins, a filtered second pass extracts the
    exact k-th smallest (k = ceil(q·n)) from the ~n/256-row bin. The
    complement of `order_value_percentiles` (window-exact, one sort
    shuffle) and `events_value_quantile_sketch` (mergeable approx):
    this is the batch-report path that stays exact at 100 TB. Oracle:
    the same order statistics via ORDER BY ... OFFSET k-1."""
    from ecommerce_realtime_pipeline_spark.operators.sketch import (
        exact_quantiles_twopass,
    )

    orders = load_table(spark, sf_dir, "orders")
    got = exact_quantiles_twopass(orders, "o_totalprice", [0.5, 0.9])
    rows = [(f"p{int(q * 100)}", v) for q, v in got]
    return spark.createDataFrame(rows, "quantile string, value double").orderBy(
        "quantile"
    )


# orders_exact_quantiles_twopass: the k-th order statistic
# (k = ceil(q*n)) via explicit ORDER BY/OFFSET — the definitionally
# exact form the two-pass algorithm must reproduce.
ORACLES["orders_exact_quantiles_twopass"] = """
        WITH s AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders),
        n AS (SELECT count(*) AS n FROM s)
        SELECT 'p50' AS quantile,
               (SELECT v FROM s ORDER BY v
                LIMIT 1 OFFSET (SELECT CAST(ceil(0.5 * n) AS BIGINT) - 1
                                FROM n)) AS value
        UNION ALL
        SELECT 'p90',
               (SELECT v FROM s ORDER BY v
                LIMIT 1 OFFSET (SELECT CAST(ceil(0.9 * n) AS BIGINT) - 1
                                FROM n))
        ORDER BY quantile
    """


def top_products_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise top-K (R15/R22 windowed form): top-3 products by
    revenue within every nation — rank() over a per-nation window.

    Scale: revenue pre-aggregates per (nation, part) BEFORE ranking
    (partial-agg friendly), nation/supplier are broadcast dims, and the
    rank window shuffles only the aggregated frame (|nations × parts|,
    not |lineitem|). Ties broken by part name for determinism.
    """
    from pyspark.sql import Window as W

    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part")
    revenue = money("l_extendedprice") * (F.lit(1).cast(MONEY) - money("l_discount"))
    per = (
        lineitem.join(F.broadcast(supplier), lineitem.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("p_name").alias("product"))
        .agg(F.sum(revenue).alias("_rev"))
    )
    w = W.partitionBy("nation").orderBy(F.col("_rev").desc(), F.col("product"))
    return (
        per.withColumn("rank", F.rank().over(w))
        .filter(F.col("rank") <= 3)
        .select("nation", "product", "rank", as_double(F.col("_rev")).alias("revenue"))
    )


ORACLES["top_products_per_nation"] = """
            WITH per AS (
                SELECT n_name AS nation, p_name AS product,
                       SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                           * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev
                FROM lineitem
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey
                JOIN part ON l_partkey = p_partkey
                GROUP BY 1, 2
            ),
            ranked AS (
                SELECT nation, product,
                       rank() OVER (PARTITION BY nation
                                    ORDER BY rev DESC, product) AS rank,
                       rev
                FROM per
            )
            SELECT nation, product, rank,
                   CAST(ROUND(rev, 2) AS DOUBLE) AS revenue
            FROM ranked WHERE rank <= 3
        """


def top_products_per_nation_heap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE PATH for group-wise top-k, next to
    `top_products_per_nation`'s window form (same output, same oracle —
    the clusters/clusters_lss precedent): per-partition top-3
    candidates (`sketch.grouped_topk_candidates`, bounded Arrow state)
    pre-prune the aggregated frame to ≤ partitions×3 rows per nation,
    and only the candidate set pays the rank exchange+sort. With
    millions of products per nation the window form sorts them all;
    this form shuffles a few rows per partition. Exact by the
    top-k-covers-top-k argument (unique (rev, product) ordering = total
    order, so rank ≡ row_number and candidates ⊇ the true top-3)."""
    from pyspark.sql import Window as W

    from ecommerce_realtime_pipeline_spark.operators.sketch import (
        grouped_topk_candidates,
    )

    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part")
    revenue = money("l_extendedprice") * (F.lit(1).cast(MONEY) - money("l_discount"))
    per = (
        lineitem.join(F.broadcast(supplier), lineitem.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("p_name").alias("product"))
        .agg(F.sum(revenue).alias("_rev"))
    )
    cands = grouped_topk_candidates(
        per, "nation", ["_rev", "product"], [False, True], 3
    )
    w = W.partitionBy("nation").orderBy(F.col("_rev").desc(), F.col("product"))
    return (
        cands.withColumn("rank", F.rank().over(w))
        .filter(F.col("rank") <= 3)
        .select("nation", "product", "rank", as_double(F.col("_rev")).alias("revenue"))
    )


# The heap scale-path variant produces the identical result by
# construction (candidates cover the true top-k) -> same oracle.
ORACLES["top_products_per_nation_heap"] = ORACLES["top_products_per_nation"]


def events_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-DECAYED engagement scoring: per event type, the
    half-life-weighted value total Σ value·0.5^(age_days/7) — the
    recency weighting every trending/engagement dashboard applies so
    last week's burst outranks last month's. The decay anchor is the
    corpus max timestamp (1-row broadcast), making the score a pure
    function of the data — deterministic and oracle-checkable.

    Exactness: per-row weight = one pow(0.5, age/7) double (the
    IEEE-chain pattern); weighted terms are cast to DECIMAL(28,14) and
    summed exactly, so the fold is partition-order independent.

    Scale: one scan + one tiny groupBy; the anchor rides a broadcast.
    Streaming twin: the decayed sum is mergeable by re-anchoring
    (multiply a shard's sum by 0.5^(Δanchor/7)), so shards/epochs
    combine without re-reading rows."""
    events = load_table(spark, sf_dir, "events")
    anchor = events.agg(F.max(F.unix_micros(F.col("ts"))).alias("_amax"))
    age_days = (
        F.col("_amax") - F.unix_micros(F.col("ts"))
    ).cast("double") / F.lit(86_400_000_000.0)
    weight = F.pow(F.lit(0.5), age_days / F.lit(7.0))
    return (
        events.crossJoin(F.broadcast(anchor))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(
                    (F.col("value") * weight).cast("decimal(28,14)")
                ).cast("double"),
                4,
            ).alias("decayed_value"),
        )
        .orderBy("event_type")
    )


# events_decayed_engagement: per-row pow(0.5, age/7) double, DECIMAL
# fold — same fixed IEEE chain on both engines; anchor = max epoch_us.
ORACLES["events_decayed_engagement"] = """
    WITH a AS (SELECT MAX(epoch_us(ts)) AS amax FROM events)
    SELECT event_type,
           count(*) AS n_events,
           ROUND(CAST(SUM(CAST(value * pow(0.5,
                    (CAST(amax - epoch_us(ts) AS DOUBLE) / 86400000000.0)
                    / 7.0) AS DECIMAL(28,14))) AS DOUBLE), 4)
               AS decayed_value
    FROM events, a
    GROUP BY 1 ORDER BY 1
"""


def events_value_outliers_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED outlier detection — the per-type companion of the
    global `events_volume_anomalies`: standardize each event's value
    against its OWN type's moments and surface the top-3 most extreme
    events per type. The per-segment fraud/telemetry screen (a value
    normal for 'purchase' is an outlier for 'view').

    Exactness: values carry 2 decimals, so S₁/S₂ are EXACT
    DECIMAL(18,2)/(38,4) sums (partition-order independent); mean, var
    and each z are then a fixed IEEE double chain — scores hash-match.

    Scale: one partial-agg moments shuffle (|types| keys, broadcast
    back) + the per-type rank window over candidate rows; with the
    grouped-top-k heap pass in front the window would see only
    partitions×3 rows per type (the `top_products_per_nation_heap`
    rewrite applies verbatim)."""
    from pyspark.sql import Window as W

    events = load_table(spark, sf_dir, "events")
    vd = money("value")
    mom = events.groupBy("event_type").agg(
        F.count("*").alias("_n"),
        F.sum(vd).alias("_s1"),
        F.sum((vd * vd).cast("decimal(38,4)")).alias("_s2"),
    )
    j = events.join(F.broadcast(mom), "event_type")
    mean = F.col("_s1").cast("double") / F.col("_n")
    var = (
        F.col("_s2").cast("double") - F.col("_s1").cast("double") * mean
    ) / (F.col("_n") - 1)
    z = (F.col("value").cast("double") - mean) / F.sqrt(var)
    scored = j.select(
        "event_type", "event_id", "value", F.round(z, 6).alias("zscore")
    )
    w = W.partitionBy("event_type").orderBy(
        F.abs(F.col("zscore")).desc(), F.col("event_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 3)
        .select("event_type", "rk", "event_id", "value", "zscore")
        .orderBy("event_type", "rk")
    )


# events_value_outliers_per_type: exact decimal moments per type, the
# same mean/var/z IEEE chain, |z| rank with event_id tie-break.
ORACLES["events_value_outliers_per_type"] = """
    WITH mom AS (
        SELECT event_type, count(*) AS n,
               SUM(CAST(value AS DECIMAL(18,2))) AS s1,
               SUM(CAST(CAST(value AS DECIMAL(18,2))
                        * CAST(value AS DECIMAL(18,2))
                        AS DECIMAL(38,4))) AS s2
        FROM events GROUP BY 1
    ),
    scored AS (
        SELECT e.event_type, e.event_id, e.value,
               ROUND((CAST(e.value AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
                     / sqrt((CAST(s2 AS DOUBLE)
                             - CAST(s1 AS DOUBLE)
                               * (CAST(s1 AS DOUBLE) / n)) / (n - 1)),
                     6) AS zscore
        FROM events e JOIN mom USING (event_type)
    ),
    ranked AS (
        SELECT event_type, event_id, value, zscore,
               CAST(row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY abs(zscore) DESC, event_id
               ) AS INT) AS rk
        FROM scored
    )
    SELECT event_type, rk, event_id, value, zscore
    FROM ranked WHERE rk <= 3
    ORDER BY event_type, rk
"""


def customer_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifetime-value DECILES (ntile window): per-customer
    spend (DECIMAL-exact, so the ordering is engine-identical) →
    ntile(10) over (spend desc, custkey) → per-decile count/sum/range.
    The marketing segmentation query (whale vs tail deciles); ntile's
    remainder-to-first-buckets rule is SQL-standard and shared by both
    engines, and the total order (tie-break on custkey) makes bucket
    membership deterministic.

    Scale: one partial-agg shuffle per customer, then the ntile window
    over the customer-level frame — a GLOBAL sort of |customers| rows
    (ntile needs a total order); the per-decile rollup prunes to 10
    rows. At 100 TB swap the exact ntile for decile BOUNDARIES from
    `exact_quantiles_twopass` + a range join."""
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(money("o_totalprice")).alias("_spend")
    )
    w = W.orderBy(F.col("_spend").desc(), F.col("o_custkey"))
    return (
        spend.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            as_double(F.sum("_spend")).alias("total_spend"),
            as_double(F.max("_spend")).alias("max_spend"),
            as_double(F.min("_spend")).alias("min_spend"),
        )
        .orderBy("decile")
    )


# ntile decile segmentation: SQL-standard remainder-to-first-buckets
# rule + a total order (spend DECIMAL-exact, custkey tie-break) make
# bucket membership engine-identical.
ORACLES["customer_value_deciles"] = """
    WITH spend AS (
        SELECT o_custkey,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s
        FROM orders GROUP BY 1
    ),
    t AS (
        SELECT o_custkey, s,
               ntile(10) OVER (ORDER BY s DESC, o_custkey) AS decile
        FROM spend
    )
    SELECT decile,
           count(*) AS n_customers,
           CAST(ROUND(SUM(s), 2) AS DOUBLE) AS total_spend,
           CAST(ROUND(MAX(s), 2) AS DOUBLE) AS max_spend,
           CAST(ROUND(MIN(s), 2) AS DOUBLE) AS min_spend
    FROM t GROUP BY 1 ORDER BY 1
"""


def orders_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R24 companion: PIVOT (long → wide) — monthly order counts and
    revenue spread across one column pair per status, via the native
    `DataFrame.pivot` operator (compiles to one partial-aggregated
    shuffle with a fixed value list — providing the list skips the
    extra distinct-values job, which at 100 TB is the difference
    between one scan and two).

    Oracle: conditional aggregation (FILTER/CASE), the relational
    definition of pivot."""
    orders = load_table(spark, sf_dir, "orders")
    month = F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM")
    wide = (
        orders.select(month.alias("month"), "o_orderstatus",
                      money("o_totalprice").alias("_rev"))
        .groupBy("month")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)).alias("n"), F.sum("_rev").alias("rev"))
    )
    # a month with zero orders of a status pivots to NULL cells —
    # coalesce to 0 like the oracle's FILTER/COALESCE form.
    zero = F.lit(0).cast(MONEY)
    return wide.select(
        "month",
        F.coalesce("F_n", F.lit(0)).alias("n_f"),
        as_double(F.coalesce("F_rev", zero)).alias("rev_f"),
        F.coalesce("O_n", F.lit(0)).alias("n_o"),
        as_double(F.coalesce("O_rev", zero)).alias("rev_o"),
        F.coalesce("P_n", F.lit(0)).alias("n_p"),
        as_double(F.coalesce("P_rev", zero)).alias("rev_p"),
    ).orderBy("month")


# pivot == conditional aggregation (its relational definition).
ORACLES["orders_status_pivot"] = """
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
           CAST(ROUND(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                 FILTER (WHERE o_orderstatus = 'F'), 0), 2) AS DOUBLE) AS rev_f,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
           CAST(ROUND(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                 FILTER (WHERE o_orderstatus = 'O'), 0), 2) AS DOUBLE) AS rev_o,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p,
           CAST(ROUND(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                 FILTER (WHERE o_orderstatus = 'P'), 0), 2) AS DOUBLE) AS rev_p
    FROM orders GROUP BY 1 ORDER BY 1
"""


def events_metrics_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inverse operator — UNPIVOT/MELT (wide → long) via the native
    `DataFrame.unpivot`: the per-type KPI row (n_events / n_users /
    total_value) melted into (event_type, metric, value) rows, the
    shape metric stores and plotting layers consume. Narrow map-side
    expansion, no shuffle beyond the feeding aggregate.

    Oracle: the UNION ALL per metric column — the relational
    definition of unpivot."""
    events = load_table(spark, sf_dir, "events")
    wide = events.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n_events"),
        F.countDistinct("user_id").cast("double").alias("n_users"),
        as_double(F.sum(F.col("value").cast(MONEY))).alias("total_value"),
    )
    return wide.unpivot(
        ["event_type"],
        ["n_events", "n_users", "total_value"],
        "metric",
        "value",
    ).orderBy("event_type", "metric")


# unpivot == UNION ALL per metric column (its relational definition).
ORACLES["events_metrics_unpivot"] = """
    WITH wide AS (
        SELECT event_type,
               CAST(count(*) AS DOUBLE) AS n_events,
               CAST(count(DISTINCT user_id) AS DOUBLE) AS n_users,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
                   AS total_value
        FROM events GROUP BY 1
    )
    SELECT event_type, 'n_events' AS metric, n_events AS value FROM wide
    UNION ALL
    SELECT event_type, 'n_users', n_users FROM wide
    UNION ALL
    SELECT event_type, 'total_value', total_value FROM wide
    ORDER BY event_type, metric
"""


def customer_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order time-series with window analytics (R17
    windowed form): order sequence number, running lifetime value, and
    gap-to-previous-order days — lag + cumulative sum over one
    (custkey, date) sort. ONE shuffle; money stays DECIMAL so the
    running sum is order-exact and oracle-hashable. Ties on a
    customer-day are ordered by o_orderkey (deterministic)."""
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    run = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
        F.row_number().over(w).alias("order_seq"),
        as_double(F.sum(money("o_totalprice")).over(run)).alias("running_value"),
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("days_since_prev"),
    )


ORACLES["customer_running_totals"] = """
            SELECT o_custkey AS custkey,
                   o_orderkey AS orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS order_day,
                   row_number() OVER w AS order_seq,
                   CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                       OVER (PARTITION BY o_custkey
                             ORDER BY o_orderdate, o_orderkey
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW), 2) AS DOUBLE)
                       AS running_value,
                   date_diff('day', lag(o_orderdate) OVER w, o_orderdate)
                       AS days_since_prev
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey)
        """


def order_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (p50/p90/p99) of order value per
    status — the SLA/latency-style distribution query. Spark
    ``percentile`` and DuckDB ``quantile_cont`` share the linear-
    interpolation definition; inputs are exact 2-dp values, results
    rounded to 4.

    Scale note: EXACT percentiles sort each group; at 100 TB swap in
    ``percentile_approx`` (t-digest, partial-agg friendly) and accept
    the documented error bound — the exact form is the oracle-checkable
    contract."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count("*").alias("n_orders"),
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("o_totalprice", F.lit(0.99)), 4).alias("p99"),
    )


ORACLES["order_value_percentiles"] = """
            SELECT o_orderstatus AS status,
                   count(*) AS n_orders,
                   ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
                   ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
                   ROUND(quantile_cont(o_totalprice, 0.99), 4) AS p99
            FROM orders
            GROUP BY 1
        """


def revenue_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic seasonal decomposition, step 1: monthly revenue with a
    CENTERED 3-month moving-average trend and the seasonal index
    (revenue/trend) — the promotions-calendar / staffing-forecast
    view.

    Plan: the fact collapses to |months| rows FIRST (one shuffle on
    the month bucket, partial-agg); only then does the ordered window
    run — over the month-cardinality frame, so the single-partition
    window is bounded by calendar length, never data volume (the
    global-window discipline: windows over aggregates, not facts).
    Trend = frame SUM/COUNT in DECIMAL (edge months average their
    2-month frame), ONE double divide each for trend and index."""
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        money("o_totalprice").alias("_m"),
    )
    monthly = orders.groupBy("month").agg(
        F.round(F.sum("_m"), 2).cast(MONEY).alias("_rev")
    )
    w = W.orderBy("month").rowsBetween(-1, 1)
    trend = F.sum("_rev").over(w).cast("double") / F.count("_rev").over(w)
    return monthly.select(
        "month",
        as_double(F.col("_rev")).alias("revenue"),
        F.round(trend, 4).alias("trend"),
        F.round(F.col("_rev").cast("double") / trend, 4).alias("seasonal_index"),
    ).orderBy("month")


ORACLES["revenue_seasonality"] = """
    WITH monthly AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS month,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                    AS DECIMAL(18,2)) AS _rev
        FROM orders GROUP BY 1
    ),
    framed AS (
        SELECT month, _rev,
               CAST(SUM(_rev) OVER w AS DOUBLE)
                   / COUNT(_rev) OVER w AS trend
        FROM monthly
        WINDOW w AS (ORDER BY month ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
    )
    SELECT month,
           CAST(ROUND(_rev, 2) AS DOUBLE) AS revenue,
           ROUND(trend, 4) AS trend,
           ROUND(CAST(_rev AS DOUBLE) / trend, 4) AS seasonal_index
    FROM framed
    ORDER BY month
"""


def events_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostic for the user_id join/agg key — the
    pre-flight check that decides whether a join needs salting
    (`events_by_segment_salted`) or AQE skew handling: rows-per-key
    p50/p99/max, the heaviest key's share, and the Gini coefficient
    of the rows-per-key distribution.

    Scale (the whole point): everything derives from the rows-per-key
    HISTOGRAM (count c → how many keys have c), so the ordered window
    runs over |distinct load values| rows — bounded by data shape,
    never key cardinality; a naive per-key global rank would be the
    single-reducer sort this report exists to warn about. Gini uses
    the grouped closed form Σᵢ i·xᵢ = Σⱼ cⱼ·(Sⱼ₋₁·mⱼ + mⱼ(mⱼ+1)/2) —
    all-integer until one double chain, 4dp."""
    from pyspark.sql import Window as W

    events = load_table(spark, sf_dir, "events")
    per_key = events.groupBy("user_id").agg(F.count("*").alias("c"))
    hist = per_key.groupBy("c").agg(F.count("*").alias("m"))
    w = W.orderBy("c").rowsBetween(W.unboundedPreceding, -1)
    cum_before = F.coalesce(F.sum("m").over(w), F.lit(0))
    term = F.col("c") * (
        cum_before * F.col("m")
        + (F.col("m") * (F.col("m") + F.lit(1))) / F.lit(2)
    )
    cum_incl = F.coalesce(F.sum("m").over(w), F.lit(0)) + F.col("m")
    # the histogram is |distinct load values| rows — checkpoint it so
    # the stats/p50/p99 branches read the materialization instead of
    # each replaying the per-key shuffle over the fact
    decorated = hist.select(
        "c",
        "m",
        term.cast("long").alias("_t"),
        cum_incl.alias("_cum"),
    ).localCheckpoint(eager=True)
    stats = decorated.agg(
        F.sum(F.col("m")).cast("long").alias("n_keys"),
        F.sum(F.col("c") * F.col("m")).cast("long").alias("n_rows"),
        F.sum("_t").cast("long").alias("_T"),
        F.max("c").cast("long").alias("max_rows_per_key"),
    )
    # k-th order statistics from the histogram (k = ceil(q*n_keys))
    ranked = decorated.crossJoin(F.broadcast(stats.select("n_keys")))
    def orderstat(q: float, alias: str):
        k = F.ceil(F.lit(q) * F.col("n_keys"))
        return (
            ranked.filter(F.col("_cum") >= k)
            .agg(F.min("c").cast("long").alias(alias))
        )
    p50 = orderstat(0.5, "p50_rows_per_key")
    p99 = orderstat(0.99, "p99_rows_per_key")
    return (
        stats.crossJoin(F.broadcast(p50))
        .crossJoin(F.broadcast(p99))
        .select(
            "n_keys",
            "n_rows",
            "p50_rows_per_key",
            "p99_rows_per_key",
            "max_rows_per_key",
            F.round(F.col("max_rows_per_key") / F.col("n_rows"), 6).alias(
                "top_key_share"
            ),
            F.round(
                2.0 * F.col("_T") / (F.col("n_keys") * F.col("n_rows"))
                - (F.col("n_keys") + 1) / F.col("n_keys"),
                4,
            ).alias("gini"),
        )
    )


ORACLES["events_key_skew_report"] = """
    WITH per_key AS (
        SELECT user_id, count(*) AS c FROM events GROUP BY 1
    ),
    hist AS (SELECT c, count(*) AS m FROM per_key GROUP BY 1),
    dec AS (
        SELECT c, m,
               CAST(c * (COALESCE(SUM(m) OVER w, 0) * m
                         + (m * (m + 1)) / 2) AS BIGINT) AS _t,
               COALESCE(SUM(m) OVER w, 0) + m AS _cum
        FROM hist
        WINDOW w AS (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING)
    ),
    stats AS (
        SELECT CAST(SUM(m) AS BIGINT) AS n_keys,
               CAST(SUM(c * m) AS BIGINT) AS n_rows,
               CAST(SUM(_t) AS BIGINT) AS _T,
               CAST(MAX(c) AS BIGINT) AS max_rows_per_key
        FROM dec
    ),
    p50 AS (
        SELECT CAST(MIN(c) AS BIGINT) AS p50_rows_per_key
        FROM dec, stats WHERE _cum >= CEIL(0.5 * n_keys)
    ),
    p99 AS (
        SELECT CAST(MIN(c) AS BIGINT) AS p99_rows_per_key
        FROM dec, stats WHERE _cum >= CEIL(0.99 * n_keys)
    )
    SELECT n_keys, n_rows, p50_rows_per_key, p99_rows_per_key,
           max_rows_per_key,
           ROUND(max_rows_per_key * 1.0 / n_rows, 6) AS top_key_share,
           ROUND(2.0 * _T / (n_keys * n_rows)
                 - (n_keys + 1) * 1.0 / n_keys, 4) AS gini
    FROM stats, p50, p99
"""

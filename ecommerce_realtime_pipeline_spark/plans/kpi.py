"""KPI / analytics queries — the reference's declared dashboard workload.

The reference declares (README.md:15, sql/init/03_create_indexes.sql:27-77)
but never implements: orders-per-minute, revenue trends, top products,
funnel analysis, customer history, data-quality metrics. Here each is a
named function ``(spark, sf_dir) -> DataFrame`` over the driver testdata,
expressed declaratively so Catalyst gets pushdown/pruning/broadcast for
free.

Determinism contract (for the DuckDB oracle hash-diff): money math is
done in DECIMAL (exact, order-independent sums), only the final result
is cast to DOUBLE; time buckets are emitted as formatted strings so both
engines hash identical values. Every computed column is aliased
identically here and in the oracle SQL (__spark_entry__.oracle_sql).

Scale notes (100 TB stance) are on each function: which side broadcasts,
what the shuffle key is, why the aggregate is partial-agg friendly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark.catalog import load_table
from ecommerce_realtime_pipeline_spark.plans import fixtures as FX

# the KPI oracles live in their own module; bound here so every plan
# module exposes its family's oracles as ``ORACLES``
from ecommerce_realtime_pipeline_spark.plans.oracles import ORACLES  # noqa: F401

# Exact money expression: cast to decimal BEFORE arithmetic so sums are
# exact and partition-order independent (doubles would make the oracle
# hash flaky). Mirrors reference round-to-2dp money semantics
# (schemas.py:61,81 in the reference).
_D = "decimal(18,2)"


def _money(col: str) -> F.Column:
    return F.col(col).cast(_D)


def _as_double(col: F.Column, scale: int = 2) -> F.Column:
    return F.round(col, scale).cast("double")


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
            _as_double(F.sum(_money("o_totalprice"))).alias("revenue"),
        )
    )


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
            _as_double(F.sum(F.col("value").cast(_D))).alias("total_value"),
        )
    )


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
            _as_double(F.sum(F.col("value").cast(_D))).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "total_value",
        )
    )


def top_products_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R15 'top products': lineitem ⋈ part, top 10 by discounted revenue.

    Scale: part is the small dim → broadcast join (no shuffle of the
    fact table); aggregate shuffles on p_partkey only after map-side
    partial agg. Deterministic tiebreak on p_partkey.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    revenue = _money("l_extendedprice") * (F.lit(1).cast(_D) - _money("l_discount"))
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy("p_partkey", "p_name")
        .agg(
            _as_double(F.sum(revenue)).alias("revenue"),
            F.sum("l_quantity").cast("double").alias("total_qty"),
            F.count("*").alias("n_lines"),
        )
        .orderBy(F.desc("revenue"), F.asc("p_partkey"))
        .limit(10)
    )


def top_customers_by_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R15/R22: top 10 customers by total order spend (orders ⋈ customer)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        orders.groupBy("o_custkey")
        .agg(
            _as_double(F.sum(_money("o_totalprice"))).alias("total_spend"),
            F.count("*").alias("n_orders"),
        )
        .join(F.broadcast(customer), F.col("o_custkey") == customer.c_custkey)
        .select("c_custkey", "c_name", "c_mktsegment", "total_spend", "n_orders")
        .orderBy(F.desc("total_spend"), F.asc("c_custkey"))
        .limit(10)
    )


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style pricing summary (R21/R24): 2-key groupBy, 8 aggregates.

    All sums in DECIMAL (exact); averages derived from exact sums and
    counts in double (deterministic given identical operands).
    """
    li = load_table(spark, sf_dir, "lineitem")
    qty = _money("l_quantity")
    base = _money("l_extendedprice")
    disc_price = _money("l_extendedprice") * (F.lit(1).cast(_D) - _money("l_discount"))
    charge = disc_price * (F.lit(1).cast(_D) + _money("l_tax"))
    n = F.count("*")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _as_double(F.sum(qty)).alias("sum_qty"),
            _as_double(F.sum(base)).alias("sum_base_price"),
            _as_double(F.sum(disc_price)).alias("sum_disc_price"),
            _as_double(F.sum(charge)).alias("sum_charge"),
            F.round(F.sum(qty).cast("double") / n, 6).alias("avg_qty"),
            F.round(F.sum(base).cast("double") / n, 6).alias("avg_price"),
            F.round(F.sum(_money("l_discount")).cast("double") / n, 6).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


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
        F.sum(_money("o_totalprice")).alias("_spend"),
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
        _as_double(F.sum("_spend")).alias("revenue"),
        F.sum("_cnt").alias("n_orders"),
    )


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
            _as_double(F.sum("_spend")).alias("revenue"),
            F.sum("_cnt").alias("n_orders"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "revenue",
            "n_orders",
        )
    )


def order_status_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2/R21: status filter domain + counts (mirrors the reference's
    partial index WHERE status IN (...) workload)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        _as_double(F.sum(_money("o_totalprice"))).alias("revenue"),
        _as_double(F.min(_money("o_totalprice"))).alias("min_price"),
        _as_double(F.max(_money("o_totalprice"))).alias("max_price"),
    )


def customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R17 customer-history slice: per-customer order time-series summary.

    Scale: one shuffle on o_custkey (the reference's composite index
    (customer_id, created_at) becomes the shuffle+sort key).
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count("*").alias("n_orders"),
        _as_double(F.sum(_money("o_totalprice"))).alias("lifetime_value"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_order"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("last_order"),
    )


def funnel_stage_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R16 funnel: per-stage event and unique-user counts."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


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
            _as_double(F.sum(F.col("value").cast(_D))).alias("total_value"),
        )
        .orderBy("c_mktsegment")
    )


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
            _as_double(F.sum(F.col("value").cast(_D))).alias("total_value"),
        )
        .orderBy("event_type")
    )


def parts_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-graph centrality: fixed-iteration PageRank
    (`graph.pagerank`, 3 rounds, d=0.85) over the co-purchase graph
    (parts linked when they share an order basket — the level-2
    market-basket graph symmetrized), top-20 parts by rank. The
    "anchor products" analysis: high-rank parts co-occur with many
    well-connected parts, a recommendation/merchandising signal the
    raw pair counts miss.

    Oracle: DuckDB replays the 3 propagation rounds CTE-for-CTE —
    contributions are one IEEE double divide each, summed in DECIMAL
    (order-independent), so every intermediate rank is bit-identical
    across engines (the kmeans/logistic-GD exactness pattern).

    Scale: basket self-join is bounded by Σ|basket|² (|basket| ≤ 7);
    each round is one edge-list equi-join + one partial-agg shuffle on
    dst; node table and 1-row N are broadcast. TakeOrdered top-20."""
    from ecommerce_realtime_pipeline_spark.operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem")
    # items dedup is partitioned by ok ALONE (hashpartitioning(ok)
    # satisfies the (ok, pk) dedup's required distribution), so the
    # basket self-join consumes the SAME exchange on both sides
    # (ReusedExchange) with zero re-shuffle — one items-sized exchange
    # for the whole pair build. The raw pair stream goes to pagerank
    # UN-deduped (dedup_edges=True): the edge dedup fuses into the
    # single _u-partitioned exchange that builds the checkpointed edge
    # table, instead of paying its own (src,dst) distinct shuffle
    # first (the co-purchase pair stream is ~duplicate-free anyway —
    # a dup needs two orders sharing both parts).
    items = (
        li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .repartition(F.col("ok"))
        .dropDuplicates(["ok", "pk"])
    )
    a = items.select("ok", F.col("pk").alias("src"))
    b = items.select("ok", F.col("pk").alias("dst"))
    edges = (
        a.join(b, "ok")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )
    ranks = pagerank(edges, iters=3, damping=0.85, dedup_edges=True)
    return (
        ranks.select(
            F.col("node").alias("part_key"), F.round("rank", 8).alias("rank")
        )
        .orderBy(F.desc("rank"), "part_key")
        .limit(20)
    )


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
        back = spark.read.parquet(f"{tmp}/events_z")
        return (
            back.groupBy("event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.countDistinct("user_id").alias("n_users"),
                _as_double(F.sum(F.col("value").cast(_D))).alias("total_value"),
                F.min("event_id").alias("min_event_id"),
                F.max("event_id").alias("max_event_id"),
            )
            .orderBy("event_type")
            .localCheckpoint(eager=True)
        )


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


def events_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream path mining: top-15 consecutive event-type
    transitions (src → dst) across each user's time-ordered stream —
    the first-order Markov structure of the funnel (which steps
    actually follow which). Deterministic ordering via (ts, event_id)
    tie-break on both engines.

    Scale: ONE shuffle to partition by user for the lag window (the
    same exchange sessionization pays), then a tiny (|types|²)-key agg;
    top-k is TakeOrdered."""
    from pyspark.sql import Window as W

    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        events.select(
            "user_id",
            F.lag("event_type").over(w).alias("src_type"),
            F.col("event_type").alias("dst_type"),
        )
        .filter(F.col("src_type").isNotNull())
        .groupBy("src_type", "dst_type")
        .agg(
            F.count("*").alias("n_transitions"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )
    return trans.orderBy(
        F.desc("n_transitions"), "src_type", "dst_type"
    ).limit(15)


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
    revenue = _money("l_extendedprice") * (F.lit(1).cast(_D) - _money("l_discount"))
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
        .select("nation", "product", "rank", _as_double(F.col("_rev")).alias("revenue"))
    )


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
    revenue = _money("l_extendedprice") * (F.lit(1).cast(_D) - _money("l_discount"))
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
        .select("nation", "product", "rank", _as_double(F.col("_rev")).alias("revenue"))
    )


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
    vd = F.col("value").cast("decimal(18,2)")
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
        F.sum(_money("o_totalprice")).alias("_spend")
    )
    w = W.orderBy(F.col("_spend").desc(), F.col("o_custkey"))
    return (
        spend.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            _as_double(F.sum("_spend")).alias("total_spend"),
            _as_double(F.max("_spend")).alias("max_spend"),
            _as_double(F.min("_spend")).alias("min_spend"),
        )
        .orderBy("decile")
    )


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
                      _money("o_totalprice").alias("_rev"))
        .groupBy("month")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)).alias("n"), F.sum("_rev").alias("rev"))
    )
    # a month with zero orders of a status pivots to NULL cells —
    # coalesce to 0 like the oracle's FILTER/COALESCE form.
    zero = F.lit(0).cast(_D)
    return wide.select(
        "month",
        F.coalesce("F_n", F.lit(0)).alias("n_f"),
        _as_double(F.coalesce("F_rev", zero)).alias("rev_f"),
        F.coalesce("O_n", F.lit(0)).alias("n_o"),
        _as_double(F.coalesce("O_rev", zero)).alias("rev_o"),
        F.coalesce("P_n", F.lit(0)).alias("n_p"),
        _as_double(F.coalesce("P_rev", zero)).alias("rev_p"),
    ).orderBy("month")


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
        _as_double(F.sum(F.col("value").cast(_D))).alias("total_value"),
    )
    return wide.unpivot(
        ["event_type"],
        ["n_events", "n_users", "total_value"],
        "metric",
        "value",
    ).orderBy("event_type", "metric")


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
        _as_double(F.sum(_money("o_totalprice")).over(run)).alias("running_value"),
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("days_since_prev"),
    )


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


def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining (a-priori level 2): top-20 part pairs
    by co-purchase order count, with per-part support and lift — the
    classic e-commerce cross-sell analysis over order baskets.

    Scale shape (the order of operations IS the design):
    - the within-order self-join is keyed on l_orderkey (co-partitioned
      equi-join) and bounded by Σ|basket|² with |basket| ≤ 7 — linear
      in orders, never corpus-quadratic;
    - pair counts take ONE shuffle on (part_a, part_b), then the
      top-20 is TakeOrdered;
    - only THEN are the 20 survivor rows enriched with per-part order
      counts — broadcasting the 20-row side into the part-counts
      table, never the reverse (part counts are corpus-sized at
      100 TB; the survivors are k rows).
    - lift = n_both·n_orders/(n_a·n_b): exact integer inputs, one
      double divide — bit-identical across engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a")
    )
    b = items.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b")
    )
    top_pairs = (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_both"))
        .orderBy(F.desc("n_both"), "part_a", "part_b")
        .limit(20)
    )
    part_orders = items.groupBy("l_partkey").agg(F.count("*").alias("n_part"))
    # 1-row scalar attachment (total basket count), not a cartesian
    totals = items.select(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    e1 = part_orders.join(
        F.broadcast(top_pairs), part_orders.l_partkey == top_pairs.part_a
    ).select("part_a", "part_b", "n_both", F.col("n_part").alias("n_a"))
    pob = part_orders.select(
        F.col("l_partkey").alias("part_b"), F.col("n_part").alias("n_b")
    )
    e2 = pob.join(F.broadcast(e1), "part_b").crossJoin(F.broadcast(totals))
    return e2.select(
        "part_a",
        "part_b",
        "n_both",
        "n_a",
        "n_b",
        (
            (F.col("n_both") * F.col("n_orders")).cast("double")
            / (F.col("n_a") * F.col("n_b"))
        ).alias("lift"),
    ).orderBy(F.desc("n_both"), "part_a", "part_b")


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity week; for
    each (cohort_week, weeks-since-cohort) the count of distinct
    users still active — the canonical growth-dashboard triangle.

    Scale: first-activity and per-user activity weeks are two aggs on
    user_id sharing one shuffle partitioning (AQE reuses the
    exchange); the cohort join is user-co-partitioned; the final agg
    shuffles on (cohort_week, week_offset) — cardinality weeks², tiny.
    """
    events = load_table(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_day")
    )
    active = (
        events.select(
            "user_id", F.date_trunc("week", "ts").cast("date").alias("week")
        )
        .distinct()
    )
    joined = active.join(firsts, "user_id")
    return (
        joined.groupBy(
            # string date: hashable the same way both engines emit it
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff("week", "cohort_day") / 7).cast("int").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


def repurchase_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase cadence: the distribution of days between a
    customer's consecutive orders, bucketed into the merchandising
    bands (≤7, 8-30, 31-90, >90 days) with the average gap per band.

    Scale: one shuffle+sort on (custkey, orderdate) for the lag; the
    band agg is 4 rows. avg_days is one exact-integer sum divided
    once — engine-identical."""
    orders = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window as W

    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gap = F.datediff("o_orderdate", F.lag("o_orderdate").over(w))
    gaps = orders.select(gap.alias("days")).filter(F.col("days").isNotNull())
    band = (
        F.when(F.col("days") <= 7, "a_week")
        .when(F.col("days") <= 30, "b_month")
        .when(F.col("days") <= 90, "c_quarter")
        .otherwise("d_longer")
    )
    return (
        gaps.groupBy(band.alias("band"))
        .agg(
            F.count("*").alias("n_intervals"),
            (F.sum("days").cast("double") / F.count("*")).alias("avg_days"),
        )
        .orderBy("band")
    )


def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-style shipping priority: BUILDING-segment orders placed
    before the cutoff whose lines ship AFTER it, ranked by outstanding
    discounted revenue — the unshipped-backlog triage list.

    Plan: segment membership is a SEMI join (no hard-coded broadcast —
    the filtered customer set is exactly what may not fit at 100 TB;
    AQE promotes small cases at runtime, the Bloom path is the explicit
    alternative), one equi-join orders⋈lineitem on the order key with
    both date filters PUSHED to the scans, decimal-exact revenue, and a
    TakeOrdered top-10 — never a global sort."""
    cut = "1999-06-30"
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit(cut))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > F.lit(cut))
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    rev = _money("l_extendedprice") * (F.lit(1).cast(_D) - _money("l_discount"))
    j = orders.join(
        cust, orders["o_custkey"] == cust["c_custkey"], "left_semi"
    ).join(li, F.col("o_orderkey") == F.col("l_orderkey"))
    return (
        j.groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_as_double(F.sum(rev)).alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


def returned_items_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10-style returned-item report: customers ranked by the
    discounted revenue of their RETURNED lines for orders placed in one
    quarter — who is hurting, with their nation attached for routing.

    Plan: both selective filters (quarter, returnflag) pushed to the
    scans; orders⋈lineitem equi-join; the per-customer aggregate is
    customer-cardinality-sized BEFORE the name/nation joins (aggregate
    first, decorate later — the decoration joins touch top-k-bound
    rows only after TakeOrdered at scale; here the tiny dims broadcast);
    top-20 by revenue with key tie-break."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1999-01-01"))
            & (F.col("o_orderdate") < F.lit("1999-04-01"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    rev = _money("l_extendedprice") * (F.lit(1).cast(_D) - _money("l_discount"))
    per_cust = (
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_custkey")
        .agg(_as_double(F.sum(rev)).alias("revenue"))
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        per_cust.join(cust, per_cust["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.round(F.col("c_acctbal"), 2).alias("acctbal"),
            "revenue",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic RFM segmentation: per customer, Recency (days since last
    order, anchored at the corpus max date — no wall clock), Frequency
    (order count), Monetary (decimal-exact spend); each scored into
    quintiles with a custkey tie-break (the customer_value_deciles
    total-order pattern, SQL-standard ntile bucket rule shared by both
    engines), then folded into the standard segment labels via ONE
    deterministic CASE chain mirrored verbatim in the oracle.

    Scale: scoring reproduces ``ntile(5)``
    EXACTLY — the oracle keeps plain ntile — but WITHOUT the three
    single-reducer global-sort windows ``Window.orderBy`` forces: the
    4 bucket-closing boundary ROWS per dimension (ntile's cumulative
    rank i·q+min(i,rem), including the tie custkey, since tied values
    straddle buckets) come from ``sketch.exact_rank_rows_twopass``
    (histogram-localized order statistics, bin-partitioned windows,
    ≤256-row collects), and each customer's score is then
    1 + #boundaries-passed via lexicographic LITERAL comparisons — no
    window, no join, no shuffle beyond the per-customer partial agg.
    One orders scan, checkpointed customer-sized base reused by the
    nine bounded boundary jobs; the final fold is |segments|-row."""
    from ecommerce_realtime_pipeline_spark.operators import sketch as SK

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", _money("o_totalprice").alias("_m")
    )
    per_cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("_last"),
        F.count("*").alias("n_orders"),
        F.sum("_m").alias("_spend"),
    )
    anchor = orders.agg(F.max("o_orderdate").alias("_anchor"))
    base = (
        per_cust.crossJoin(F.broadcast(anchor))
        .withColumn(
            "recency_days", F.datediff(F.col("_anchor"), F.col("_last"))
        )
        # recency scores by recency DESC: negate so every dimension
        # ranks ASC through the same order-statistic machinery
        .withColumn("_neg_r", -F.col("recency_days"))
        .localCheckpoint(eager=True)
    )
    n = base.count()
    q5, rem = divmod(n, 5)
    # ntile's cumulative bucket-closing ranks (first `rem` buckets get
    # one extra row — NOT ceil(i·n/5), which differs when rem ∈ {3,4})
    ks = [i * q5 + min(i, rem) for i in range(1, 5)]
    ks = [max(1, k) for k in ks]

    def score(value_col: str, bounds) -> F.Column:
        s = F.lit(1)
        for _k, v, t in bounds:
            s = s + F.when(
                (F.col(value_col) > F.lit(v))
                | ((F.col(value_col) == F.lit(v)) & (F.col("o_custkey") > F.lit(t))),
                1,
            ).otherwise(0)
        return s

    r_b = SK.exact_rank_rows_twopass(base, "_neg_r", "o_custkey", ks)
    f_b = SK.exact_rank_rows_twopass(base, "n_orders", "o_custkey", ks)
    m_b = SK.exact_rank_rows_twopass(base, "_spend", "o_custkey", ks)
    scored = (
        base.withColumn("r_score", score("_neg_r", r_b))
        .withColumn("f_score", score("n_orders", f_b))
        .withColumn("m_score", score("_spend", m_b))
    )
    segment = (
        F.when(
            (F.col("r_score") >= 4) & (F.col("f_score") >= 4) & (F.col("m_score") >= 4),
            "champions",
        )
        .when(F.col("f_score") >= 4, "loyal")
        .when(F.col("m_score") >= 4, "big_spenders")
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 3), "at_risk")
        .when((F.col("r_score") <= 2) & (F.col("f_score") <= 2), "hibernating")
        .otherwise("regular")
    )
    return (
        scored.withColumn("segment", segment)
        .groupBy("segment")
        .agg(
            F.count("*").alias("n_customers"),
            _as_double(F.sum("_spend")).alias("total_spend"),
            F.round(F.avg("recency_days"), 4).alias("avg_recency_days"),
            F.round(F.avg("n_orders"), 4).alias("avg_orders"),
        )
        .orderBy("segment")
    )


def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q8-flavor market share: of all STANDARD-part line revenue,
    the fraction supplied by NATION_3's suppliers, per ship year — the
    competitive-share trend. Plan: the filtered part keys and nation
    are hinted broadcast dims, supplier is AQE-promoted (see inline
    note — it is unfiltered and scale-linear), around ONE lineitem scan;
    the share is a conditional aggregate over the same partial-agg
    shuffle (never two scans, never a join after aggregation);
    decimal-exact sums, one double divide per year row."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "STANDARD")
        .select("p_partkey")
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    vol = _money("l_extendedprice") * (F.lit(1).cast(_D) - _money("l_discount"))
    # supplier deliberately carries NO broadcast hint: it is the one
    # UNFILTERED dim here and grows linearly with scale factor — a
    # hard hint that wins at sf0.1 is an executor OOM at 100×. AQE
    # promotes it to broadcast at runtime whenever it measures small
    # (plan-pinned at sf0.1); past the threshold it degrades to a
    # shuffle join instead of dying. part (filtered) and nation
    # (constant-sized) keep their hints — same policy
    # shipping_priority documents.
    j = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(supplier, li["l_suppkey"] == supplier["s_suppkey"])
        .join(F.broadcast(nation), supplier["s_nationkey"] == nation["n_nationkey"])
    )
    target = F.when(F.col("n_name") == "NATION_3", vol).otherwise(
        F.lit(0).cast(_D)
    )
    return (
        j.groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(
            _as_double(F.sum(target)).alias("nation_revenue"),
            _as_double(F.sum(vol)).alias("total_revenue"),
            F.round(
                F.sum(target).cast("double") / F.sum(vol).cast("double"), 6
            ).alias("mkt_share"),
        )
        .orderBy("ship_year")
    )


def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14-flavor promo effect: per ship month of 1999, the
    percentage of line revenue coming from PROMO-type parts. ONE
    lineitem scan (ship-year filter pushed) joined to the broadcast
    (p_partkey, p_type) dim; promo vs total are conditional aggregates
    over the same shuffle; decimal-exact sums, one double divide."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1999-01-01"))
            & (F.col("l_shipdate") < F.lit("2000-01-01"))
        )
        .select("l_partkey", "l_shipdate", "l_extendedprice", "l_discount")
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    vol = _money("l_extendedprice") * (F.lit(1).cast(_D) - _money("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0).cast(_D))
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy(F.month("l_shipdate").alias("ship_month"))
        .agg(
            _as_double(F.sum(promo)).alias("promo_revenue"),
            _as_double(F.sum(vol)).alias("total_revenue"),
            F.round(
                F.lit(100.0) * F.sum(promo).cast("double")
                / F.sum(vol).cast("double"),
                6,
            ).alias("promo_share_pct"),
        )
        .orderBy("ship_month")
    )


def order_priority_fulfillment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-flavor priority check: per order priority, how many
    orders placed in 1999 H1 have at least one LATE line (shipped more
    than 90 days after the order date) — the fulfillment-SLA breakdown.

    Plan: the order-date filter is pushed to the orders scan; lateness
    is decided by an EXISTS (left-semi) equi-join on the order key with
    the date comparison as the join residual — never an inequality-only
    join; the priority rollup is a |priorities|-row aggregate."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1999-01-01"))
            & (F.col("o_orderdate") < F.lit("1999-07-01"))
        )
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    late = orders.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 90)),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_late_orders"))
        .orderBy("o_orderpriority")
    )


def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13-flavor customer distribution: how many customers
    placed exactly N orders, for every N seen (including 0 via the
    LEFT join — a customer with no orders must land in the zero
    bucket, the classic outer-join-then-histogram shape).

    Plan: orders aggregates FIRST (one scan → customer-cardinality
    counts), then ONE equi-join against the customer keys (no
    broadcast hint on either side — both are scale-linear; AQE
    promotes if one measures small), then the |distinct counts|-row
    histogram. Never a per-customer correlated subquery."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    per_cust = orders.groupBy("o_custkey").agg(F.count("*").alias("_n"))
    return (
        cust.join(per_cust, cust["c_custkey"] == per_cust["o_custkey"], "left")
        .select(F.coalesce(F.col("_n"), F.lit(0)).alias("n_orders"))
        .groupBy("n_orders")
        .agg(F.count("*").alias("n_customers"))
        .orderBy(F.desc("n_customers"), F.desc("n_orders"))
    )


def large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18-flavor large-volume orders: the top-20 orders whose
    total line quantity exceeds 300 units, decorated with the customer
    — the bulk-buyer watchlist.

    Plan: lineitem aggregates FIRST (per-order decimal-exact quantity
    sum, one scan), the HAVING filter shrinks it to the handful of
    qualifying orders BEFORE any join; the orders/customer decoration
    joins run on that filtered set (AQE sees the tiny side at runtime
    — no hard hints on the scale-linear dims); TakeOrdered top-20."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_quantity").cast(_D).alias("_q")
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("_q").alias("_qty"))
        .filter(F.col("_qty") > 300)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, big["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            _as_double(F.col("o_totalprice")).alias("order_total"),
            _as_double(F.col("_qty")).alias("total_qty"),
        )
        .orderBy(F.desc("order_total"), "o_orderkey")
        .limit(20)
    )


def dormant_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22-flavor dormant-capital report: customers whose account
    balance exceeds the average POSITIVE balance but who placed no
    order on/after 1999-09-01 — per market segment, how many such
    dormant high-balance customers and how much balance they hold (the
    re-engagement target list).

    Exactness: the threshold comparison is division-free —
    ``acctbal · n > Σbal`` in exact DECIMAL (mirrored verbatim in the
    oracle), so no engine-specific average rounding can flip a
    boundary customer. Plan: the 1-row positive-balance aggregate
    broadcasts; dormancy is a LEFT ANTI equi-join against the
    date-filtered orders scan (filter pushed; never NOT IN over a
    subquery per row); output is a |segments|-row aggregate."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    pos = cust.filter(F.col("c_acctbal") > 0).agg(
        F.sum(F.col("c_acctbal").cast(_D)).alias("_s"),
        F.count("*").cast("decimal(12,0)").alias("_n"),
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1999-09-01"))
        .select("o_custkey")
    )
    rich = cust.crossJoin(F.broadcast(pos)).filter(
        F.col("c_acctbal").cast(_D) * F.col("_n") > F.col("_s")
    )
    dormant = rich.join(
        recent, rich["c_custkey"] == recent["o_custkey"], "left_anti"
    )
    return (
        dormant.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            _as_double(F.sum(F.col("c_acctbal").cast(_D))).alias(
                "total_balance"
            ),
        )
        .orderBy("c_mktsegment")
    )


def nation_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q11-flavor market concentration: per supplier nation, the
    Herfindahl-Hirschman index of its suppliers' revenue shares plus
    the top-supplier share — the is-this-market-captured report.

    Exactness: per-supplier revenue reduces to DECIMAL(18,2) (2dp
    round, both engines exact), so its square is the exact (37,4)
    product and the per-nation Σr² / (Σr)² needs only ONE double
    divide per nation row (4dp-rounded). Plan: lineitem aggregates
    FIRST to supplier cardinality; supplier joins that aggregate
    UN-hinted (scale-linear dim — AQE promotes when small, the
    nation_market_share policy); nation broadcasts; the HHI fold is a
    |nations|-row aggregate. No global window anywhere."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    vol = _money("l_extendedprice") * (F.lit(1).cast(_D) - _money("l_discount"))
    per_supp = (
        li.groupBy("l_suppkey")
        .agg(F.round(F.sum(vol), 2).cast(_D).alias("_r"))
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = (
        per_supp.join(supplier, per_supp["l_suppkey"] == supplier["s_suppkey"])
        .join(F.broadcast(nation), supplier["s_nationkey"] == nation["n_nationkey"])
    )
    sq = (F.col("_r") * F.col("_r")).alias("_r2")  # exact (37,4)
    return (
        j.groupBy("n_name")
        .agg(
            F.count("*").alias("n_suppliers"),
            _as_double(F.sum("_r")).alias("total_revenue"),
            F.round(
                F.max("_r").cast("double")
                / F.sum("_r").cast("double"),
                4,
            ).alias("top_share"),
            F.round(
                F.sum(sq).cast("double")
                / (F.sum("_r").cast("double") * F.sum("_r").cast("double")),
                4,
            ).alias("hhi"),
        )
        .orderBy(F.desc("hhi"), "n_name")
    )


def nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7-flavor bilateral trade: line revenue shipped between
    NATION_13 and NATION_19 (both directions), per ship year — the
    two-dimension-decorated fact shape (supplier nation AND customer
    nation on one lineitem scan). The nation pair is chosen so the
    gate is NON-EMPTY at every test SF (a pair with zero suppliers at
    sf0.001 would give an empty result, which exercises nothing in the
    direction the driver scales).

    Plan: the 2-row filtered nation dim broadcasts into supplier and
    customer, shrinking both scale-linear dims to the two target
    nations BEFORE they touch the fact; orders joins lineitem equi;
    no hard hints on the linear dims (AQE promotes the filtered
    sides); the rollup is |years × 2| rows."""
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_13", "NATION_19")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    vol = _money("l_extendedprice") * (F.lit(1).cast(_D) - _money("l_discount"))
    j = (
        li.join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        j.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(
            F.count("*").alias("n_lines"),
            _as_double(F.sum(vol)).alias("revenue"),
        )
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


def top_supplier_quarter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15-flavor top supplier: the supplier(s) with the maximum
    line revenue in 1999 Q1 — the argmax-with-join-back shape (the
    revenue view is computed once, its max is a 1-row broadcast, and
    equality joins back; DECIMAL-exact revenue makes the tie equality
    engine-safe).

    Plan: the quarter filter is pushed to the lineitem scan; the
    per-supplier aggregate is supplier-cardinality; the 1-row max
    broadcasts; the name decoration joins the (usually 1-row) winner
    set."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1999-01-01"))
            & (F.col("l_shipdate") < F.lit("1999-04-01"))
        )
        .select("l_suppkey", "l_extendedprice", "l_discount")
    )
    vol = _money("l_extendedprice") * (F.lit(1).cast(_D) - _money("l_discount"))
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.round(F.sum(vol), 2).cast(_D).alias("_rev"))
    )
    top = rev.agg(F.max("_rev").alias("_max"))
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return (
        rev.crossJoin(F.broadcast(top))
        .filter(F.col("_rev") == F.col("_max"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            _as_double(F.col("_rev")).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


def discount_revenue_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6-flavor what-if: revenue that would have been gained in
    1999 by eliminating small discounts (5-7%) on small orders
    (quantity < 10) — ONE filtered scan, every predicate pushed to
    parquet, one decimal-exact aggregate row. The canonical
    scan-efficiency probe."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1999-01-01"))
        & (F.col("l_shipdate") < F.lit("2000-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 10)
    )
    gain = _money("l_extendedprice") * _money("l_discount")
    return li.agg(
        F.count("*").alias("n_lines"),
        _as_double(F.sum(gain)).alias("potential_revenue"),
    )


def nation_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per customer nation — the
    partitioned LAG window report (each nation's trend computed inside
    its own partition; the window never crosses nations, so the shape
    stays parallel at any nation count, unlike a global-order window).

    Plan: orders joins customer equi (both scale-linear, no hints —
    AQE decides), nation broadcasts; the aggregate is
    |nations × years| rows BEFORE the window touches it; growth is
    one double divide, 4dp, NULL for each nation's first year."""
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", _money("o_totalprice").alias("_m")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    per = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name", F.year("o_orderdate").alias("order_year"))
        .agg(F.round(F.sum("_m"), 2).cast(_D).alias("_rev"))
    )
    prev = F.lag("_rev").over(W.partitionBy("n_name").orderBy("order_year"))
    return per.select(
        "n_name",
        "order_year",
        _as_double(F.col("_rev")).alias("revenue"),
        F.round(
            (F.col("_rev") - prev).cast("double") / prev.cast("double"), 4
        ).alias("yoy_growth"),
    ).orderBy("n_name", "order_year")


def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q2-flavor sourcing report: for every STANDARD size-6
    part, the supplier(s) whose line price hit that part's minimum —
    the correlated-MIN-plus-join-back shape, realized as ONE shuffle:
    a per-part window MIN replaces the self-join the subquery would
    naively compile to (the reference schema has no partsupp; lineitem
    evidence is the offer book). The (size, type) selector is chosen
    to be non-empty at every test SF (size 25 has zero STANDARD parts
    at sf0.001).

    Plan: the filtered part dim (1/300th of parts) broadcasts into the
    fact BEFORE any aggregation, so the window only ever sees relevant
    lines; per-part groups are basket-bounded, so the window partition
    never skews; supplier/nation decorate the (≈|parts|) winner set.
    DECIMAL-exact min ⇒ the tie equality is engine-safe."""
    from pyspark.sql import Window as W

    part_f = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_size") == 6) & (F.col("p_type") == "STANDARD"))
        .select("p_partkey", "p_name")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", _money("l_extendedprice").alias("_price")
    )
    offers = li.join(
        F.broadcast(part_f), li["l_partkey"] == part_f["p_partkey"]
    )
    best = F.min("_price").over(W.partitionBy("l_partkey"))
    winners = (
        offers.withColumn("_best", best)
        .filter(F.col("_price") == F.col("_best"))
        .select("p_partkey", "p_name", "l_suppkey", "_best")
        .distinct()
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    return (
        winners.join(supplier, winners["l_suppkey"] == supplier["s_suppkey"])
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "p_partkey",
            "p_name",
            _as_double(F.col("_best")).alias("best_price"),
            "s_suppkey",
            "s_name",
            F.col("n_name").alias("supp_nation"),
        )
        .orderBy("p_partkey", "s_suppkey")
    )


def product_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q9-flavor product-line profit: for parts named '% bolt',
    profit per (supplier nation, ship year) where profit = line revenue
    minus a retail-derived unit cost (no partsupp in this schema, so
    cost ≔ half retail price — fixed, deterministic).

    Plan: the name-filtered part dim joins the fact first (broadcast —
    it is a constant fraction of a dim that is itself ~1/1000th of the
    fact); supplier joins equi with no hint (scale-linear, AQE
    decides); nation broadcasts; the rollup is |nations × years|.
    Profit stays DECIMAL through the subtraction; the cost halving is
    an exact binary scale of a 2dp price, rounded back to cents before
    entering DECIMAL."""
    part_f = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("% bolt"))
        .select(
            "p_partkey",
            F.round(F.col("p_retailprice") * 0.5, 2).cast(_D).alias("_unit_cost"),
        )
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_shipdate",
        "l_extendedprice", "l_discount", "l_quantity",
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    profit = _money("l_extendedprice") * (
        F.lit(1).cast(_D) - _money("l_discount")
    ) - F.col("_unit_cost") * _money("l_quantity")
    return (
        li.join(F.broadcast(part_f), li["l_partkey"] == part_f["p_partkey"])
        .join(supplier, li["l_suppkey"] == supplier["s_suppkey"])
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("supp_nation"),
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(
            F.count("*").alias("n_lines"),
            _as_double(F.sum(profit)).alias("profit"),
        )
        .orderBy("supp_nation", "ship_year")
    )


def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17-flavor small-lot probe: average yearly revenue that
    Brand#13 lines below 20% of their part's mean quantity represent —
    the correlated-AVG shape, again as a per-part window instead of a
    second scan + self-join.

    Plan: brand-filtered parts broadcast into the fact first; ONE
    shuffle on partkey feeds both the window AVG and the filter;
    quantities are integers-in-doubles so the mean is exact and the
    0.2× threshold comparison is bit-identical across engines; the
    revenue sum is DECIMAL, divided by 7 once at the end."""
    from pyspark.sql import Window as W

    part_f = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#13")
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", _money("l_extendedprice").alias("_e")
    )
    j = li.join(F.broadcast(part_f), li["l_partkey"] == part_f["p_partkey"])
    avg_qty = F.avg("l_quantity").over(W.partitionBy("l_partkey"))
    small = j.withColumn("_thr", 0.2 * avg_qty).filter(
        F.col("l_quantity") < F.col("_thr")
    )
    return small.agg(
        F.count("*").alias("n_lines"),
        F.round(F.sum("_e").cast("double") / 7.0, 2).alias("avg_yearly_revenue"),
    )


def disjunctive_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q19-flavor disjunctive revenue: one OR-of-ANDs predicate
    mixing part attributes (brand, size) with line attributes
    (quantity) — the constraint-propagation probe. Catalyst derives
    the single-side residuals (brand ∈ {...} on part, quantity ∈
    [1,30] on lineitem) from the disjunction and pushes them below the
    join, so each scan prunes before the equi-join; the final AND/OR
    evaluates post-join on the survivors.

    Plan: no broadcast hint on part (scale-linear; the derived IN
    filter shrinks it and AQE promotes if small); one aggregate row."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    j = li.join(part, li["l_partkey"] == part["p_partkey"])
    disj = (
        (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#15")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#22")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    rev = _money("l_extendedprice") * (F.lit(1).cast(_D) - _money("l_discount"))
    return j.filter(disj).agg(
        F.count("*").alias("n_lines"),
        _as_double(F.sum(rev)).alias("revenue"),
    )


def excess_volume_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q20-flavor dominant suppliers: NATION_3 suppliers that
    shipped MORE THAN HALF of some contested part's total 1999 volume
    (contested = ≥2 suppliers shipped it) — the nested-semi-join
    chain, realized as agg → per-part window totals → filter →
    nation-filtered decoration.

    Plan: the date filter is pushed to the scan; ONE shuffle on
    partkey serves the (part,supplier) rollup AND the per-part window
    (partial agg first, so the window sees |part×supp| rows, not
    lines); the 1-nation supplier set joins the ≈|dominating pairs|
    survivors; quantities are integers-in-doubles ⇒ the half-share
    strict comparison is exact."""
    from pyspark.sql import Window as W

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1999-01-01"))
            & (F.col("l_shipdate") < F.lit("2000-01-01"))
        )
        .select("l_partkey", "l_suppkey", "l_quantity")
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("_qty")
    )
    w = W.partitionBy("l_partkey")
    dom = (
        ps.withColumn("_total", F.sum("_qty").over(w))
        .withColumn("_nsupp", F.count("*").over(w))
        .filter((F.col("_nsupp") >= 2) & (F.col("_qty") > 0.5 * F.col("_total")))
    )
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3"
    )
    supplier = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nation.select("n_nationkey")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    return (
        dom.join(supplier, dom["l_suppkey"] == supplier["s_suppkey"])
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("*").alias("n_dominated_parts"))
        .orderBy(F.desc("n_dominated_parts"), "s_suppkey")
    )


def waiting_orders_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q21-flavor blame report: suppliers that were the SOLE
    late shipper (>60 days after order date) on multi-supplier orders
    — the EXISTS/NOT-EXISTS pair, compiled to one per-(order,supplier)
    partial agg plus per-order window counts instead of two
    correlated self-joins of the fact.

    Plan: lineitem joins orders equi on orderkey (both scale-linear,
    no hints); ONE shuffle on orderkey serves the pair rollup and the
    order-partition window (basket-bounded partitions); survivors
    aggregate per supplier (dim-sized), decorate, TakeOrdered 20 with
    a total tie-break."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    late = (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    ).cast("int")
    ps = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("_late"))
    )
    w = W.partitionBy("l_orderkey")
    qual = (
        ps.withColumn("_nsupp", F.count("*").over(w))
        .withColumn("_nlate", F.sum("_late").over(w))
        .filter(
            (F.col("_late") == 1)
            & (F.col("_nlate") == 1)
            & (F.col("_nsupp") >= 2)
        )
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return (
        qual.groupBy("l_suppkey")
        .agg(F.count("*").alias("numwait"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_suppkey")
        .limit(20)
    )


def supplier_part_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q16-flavor supplier diversity: distinct shipper count per
    (brand, type, size) for selected sizes, EXCLUDING suppliers in
    arrears (negative account balance) — the NOT-IN-subquery shape as
    a broadcast LEFT ANTI join (the excluded set is a filtered
    fraction of an already scale-linear dim, and anti joins
    short-circuit per probe row).

    Plan: the (part,supplier) bridge is ONE distinct shuffle of the
    fact's two key columns; the anti join is broadcast; the filtered
    part dim joins equi (no hint — size IN keeps it linear, AQE
    promotes at small SF); countDistinct rides the same partkey
    shuffle."""
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    ok = pairs.join(
        F.broadcast(bad),
        pairs["l_suppkey"] == bad["s_suppkey"],
        "left_anti",
    )
    part_f = (
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#5")
            & F.col("p_size").isin(1, 10, 20, 30, 40, 50)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        ok.join(part_f, ok["l_partkey"] == part_f["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


def shipping_delay_priority_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q12-flavor shipping-SLA split: 1999 lines bucketed FAST
    (<30 days after order) vs SLOW, each bucket counting
    critical-priority (1-URGENT/2-HIGH) vs other orders — the
    conditional-aggregation shape (no shipmode column in this schema;
    the delay bucket is the analogue).

    Plan: ship-year filter pushed to the fact scan; orders joins equi
    (no hint); ONE shuffle on the 2-value bucket with map-side partial
    aggregation carrying both conditional counts."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1999-01-01"))
            & (F.col("l_shipdate") < F.lit("2000-01-01"))
        )
        .select("l_orderkey", "l_shipdate")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
    bucket = F.when(
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) < 30, "FAST"
    ).otherwise("SLOW")
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
    return (
        j.groupBy(bucket.alias("delay_bucket"))
        .agg(
            F.sum(crit).alias("critical_lines"),
            F.sum(F.lit(1) - crit).alias("other_lines"),
        )
        .orderBy("delay_bucket")
    )


def parts_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase graph cohesion: triangle count + global clustering
    coefficient of the SUPPORT-FILTERED part co-purchase graph (parts
    adjacent when they share ≥2 order baskets) — the one-row
    graph-topology health report (how clique-ish is the catalog's
    cross-sell structure). The support threshold is the standard
    market-basket practice AND the first scale lever: single
    co-occurrences on random baskets are noise edges, and dropping
    them shrinks the sf0.1 edge set 333× (1.2M → 3.6k) BEFORE any
    superlinear topology work touches it.

    Plan (the scale design IS the orientation): undirected edges are
    the basket self-join (Σ|basket|², |basket| ≤ 7, linear in orders)
    grouped to (pair, support) and thresholded in the same shuffle,
    then checkpointed once (edge-sized, like PageRank's edge build —
    the three triangle join legs read the materialization instead of
    replaying the basket join). Each edge is then ORIENTED
    from its lower-(degree,
    id) endpoint to the higher one — the classic wedge-bounding trick:
    every node's out-degree is O(√|E|), so the wedge join
    e1(u,v)⋈e2(v,w) is Σ out² = O(|E|^1.5) worst-case instead of
    Σ deg² (which a hub node makes quadratic). Triangles close with a
    THIRD equi-join probing (u,w) — three hash equi-joins total, no
    inequality join anywhere. Wedges for the coefficient are the exact
    Σ deg·(deg−1)/2, integer math; one double divide at the end.
    Oracle replays the a<b<c 3-way join (same count — each triangle
    has exactly one orientation-consistent corner / one sorted
    corner)."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    a = items.select("ok", F.col("pk").alias("u"))
    b = items.select("ok", F.col("pk").alias("v"))
    # materialize the basket self-join ONCE (edge-sized): und feeds
    # the degree table AND the orientation; without the checkpoint the
    # three triangle join legs would each replay it
    und = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("_sup"))
        .filter(F.col("_sup") >= 2)
        .select("u", "v")
        .localCheckpoint(eager=True)
    )
    # degree per node over the undirected edge list (node-sized; used
    # by both endpoints' decoration and the wedge denominator)
    deg = (
        und.select(F.col("u").alias("n"))
        .unionAll(und.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
        .localCheckpoint(eager=True)
    )
    du = deg.select(F.col("n").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("deg").alias("dv"))
    withdeg = und.join(du, "u").join(dv, "v")
    # orient low (deg, id) → high (deg, id): out-degree ≤ O(√|E|)
    oriented = withdeg.select(
        F.when(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
            F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
        )
        .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
        .alias("e")
    ).select(F.col("e.s").alias("s"), F.col("e.t").alias("t")).localCheckpoint(
        eager=True
    )
    e1 = oriented.select(F.col("s").alias("x"), F.col("t").alias("y"))
    e2 = oriented.select(F.col("s").alias("y"), F.col("t").alias("z"))
    e3 = oriented.select(F.col("s").alias("x"), F.col("t").alias("z"))
    wedges = e1.join(e2, "y")
    tri = wedges.join(e3, ["x", "z"]).agg(F.count("*").alias("_tri"))
    stats = (
        deg.agg(
            F.count("*").alias("n_nodes"),
            (F.sum(F.col("deg") * (F.col("deg") - 1)) / 2).cast("long").alias("_wedges"),
            (F.sum("deg") / 2).cast("long").alias("n_edges"),
        )
    )
    return (
        stats.crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            F.col("_tri").alias("n_triangles"),
            # a wedge-free graph (isolated edges only, or empty) has
            # clustering 0 by convention — the bare divide returns
            # NULL in Spark but inf/NaN in DuckDB, so guard BOTH sides
            F.when(
                F.col("_wedges") > 0,
                F.round(3.0 * F.col("_tri") / F.col("_wedges"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("global_clustering"),
        )
    )


def parts_dense_community(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densest co-purchase community: 4 rounds of average-degree
    peeling (`graph.peel_dense_subgraph`) over the part co-purchase
    graph — per-round (n_nodes, n_edges, density) trajectory; the
    densest round is the Charikar 2-approximation of the densest
    subgraph (the "core catalog" merchandising view).

    Scale: basket-bounded edge build (Σ|basket|², checkpointed once);
    each peel is a degree shuffle + two edge-sized semi-joins against
    the broadcast survivor set; the driver sees only one (N, E) row
    per round (the bounded-probe pattern `neardup_clusters`
    established). Oracle replays all 4 peels CTE-for-CTE with the
    same all-integer keep test."""
    from ecommerce_realtime_pipeline_spark.operators.graph import (
        peel_dense_subgraph,
    )

    li = load_table(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    a = items.select("ok", F.col("pk").alias("u"))
    b = items.select("ok", F.col("pk").alias("v"))
    und = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    return peel_dense_subgraph(und, rounds=4).orderBy("round")


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
        _money("o_totalprice").alias("_m"),
    )
    monthly = orders.groupBy("month").agg(
        F.round(F.sum("_m"), 2).cast(_D).alias("_rev")
    )
    w = W.orderBy("month").rowsBetween(-1, 1)
    trend = F.sum("_rev").over(w).cast("double") / F.count("_rev").over(w)
    return monthly.select(
        "month",
        _as_double(F.col("_rev")).alias("revenue"),
        F.round(trend, 4).alias("trend"),
        F.round(F.col("_rev").cast("double") / trend, 4).alias("seasonal_index"),
    ).orderBy("month")


def events_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain channel attribution (the removal-effect model):
    fit the first-order transition matrix of user journeys (purchase
    absorbing, journey-end = implicit loss), walk 6 steps from the
    observed first-touch distribution, and for each removable channel
    recompute conversion with that channel's inbound transitions
    removed — removal_effect = 1 − conv_without/conv_full, the
    standard data-driven alternative to last-touch attribution.

    Determinism contract (the logistic-GD/power-iteration pattern):
    probabilities are 8dp-rounded DECIMALs (one IEEE divide each);
    every walk step is an exact DECIMAL(14,8)×(10,8) product sum over
    the ≤|types|² matrix, rounded back to (14,8) — both engines walk
    identical mass vectors, all 5 scenarios vectorized through ONE
    code path via a scenario tag.

    Scale: two passes of the user-partition window over the fact (one
    for transition counts, one for the first-touch distribution —
    the sessionization exchange each time) collapse to a |types|²-row
    matrix + |types|-row vector, both checkpointed; the 6-step ×
    5-scenario walk then moves ≤ |scenarios×types| rows per step —
    free at any corpus size. Zero driver collects."""
    from pyspark.sql import Window as W

    ABSORB = "purchase"
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = events.select(
        "user_id",
        F.lag("event_type").over(w).alias("src"),
        F.col("event_type").alias("dst"),
        F.row_number().over(w).alias("_rn"),
    )
    trans = (
        pairs.filter(F.col("src").isNotNull() & (F.col("src") != ABSORB))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("_cnt"))
    )
    totals = (
        events.filter(F.col("event_type") != ABSORB)
        .groupBy(F.col("event_type").alias("src"))
        .agg(F.count("*").alias("_tot"))
    )
    P = trans.join(totals, "src").select(
        "src",
        "dst",
        F.round(F.col("_cnt") / F.col("_tot"), 8).cast("decimal(10,8)").alias("_p"),
    )
    firsts = pairs.filter(F.col("_rn") == 1)
    n_users = firsts.groupBy().agg(F.count("*").alias("_n"))
    v0 = (
        firsts.groupBy(F.col("dst").alias("state"))
        .agg(F.count("*").alias("_c"))
        .crossJoin(F.broadcast(n_users))
        .select(
            "state",
            F.round(F.col("_c") / F.col("_n"), 8).cast("decimal(14,8)").alias("_m"),
        )
    )
    scen = spark.createDataFrame(
        [("full",), ("click",), ("error",), ("signup",), ("view",)],
        "scenario string",
    )
    # materialize the |scenarios×types²| matrix and |scenarios×types|
    # start vector ONCE: every walk step references them, and without
    # the checkpoint each of the 6 steps' lineage would replay the
    # user-window pass over the fact (measured 6× the runtime)
    Ps = (
        P.crossJoin(F.broadcast(scen))
        .filter((F.col("scenario") == "full") | (F.col("dst") != F.col("scenario")))
        .select(F.col("scenario").alias("_ps"), "src", "dst", "_p")
        .localCheckpoint(eager=True)
    )
    v = (
        v0.crossJoin(F.broadcast(scen))
        .filter((F.col("scenario") == "full") | (F.col("state") != F.col("scenario")))
        .select("scenario", "state", "_m")
        .localCheckpoint(eager=True)
    )
    absorbed = [
        v.filter(F.col("state") == ABSORB).select("scenario", F.col("_m").alias("_a"))
    ]
    cur = v.filter(F.col("state") != ABSORB)
    for _ in range(6):
        nxt = (
            cur.join(
                Ps,
                (cur["state"] == Ps["src"]) & (cur["scenario"] == Ps["_ps"]),
            )
            .groupBy("scenario", "dst")
            .agg(F.round(F.sum(F.col("_m") * F.col("_p")), 8).cast("decimal(14,8)").alias("_m"))
        )
        absorbed.append(
            nxt.filter(F.col("dst") == ABSORB).select("scenario", F.col("_m").alias("_a"))
        )
        cur = nxt.filter(F.col("dst") != ABSORB).withColumnRenamed("dst", "state")
    allabs = absorbed[0]
    for a in absorbed[1:]:
        allabs = allabs.unionByName(a)
    # LEFT join back to the scenario list: a channel whose removal
    # kills EVERY conversion has no absorbed rows at all — it must
    # report conv_without = 0 (removal_effect 1.0), not vanish
    conv = scen.join(
        allabs.groupBy("scenario").agg(F.sum("_a").alias("_sum")),
        "scenario",
        "left",
    ).select(
        "scenario",
        F.coalesce(F.col("_sum"), F.lit(0)).cast("decimal(14,8)").alias("_conv"),
    )
    full = conv.filter(F.col("scenario") == "full").select(
        F.col("_conv").alias("_cfull")
    )
    return (
        conv.filter(F.col("scenario") != "full")
        .crossJoin(F.broadcast(full))
        .select(
            F.col("scenario").alias("channel"),
            F.round(F.col("_cfull").cast("double"), 6).alias("conv_full"),
            F.round(F.col("_conv").cast("double"), 6).alias("conv_without"),
            # a corpus with zero conversions has nothing to attribute:
            # removal_effect 0 by convention (Spark NULL vs DuckDB NaN
            # on the bare 0/0 — guarded identically in the oracle)
            F.when(
                F.col("_cfull") > 0,
                F.round(
                    1.0
                    - F.col("_conv").cast("double")
                    / F.col("_cfull").cast("double"),
                    4,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("removal_effect"),
        )
        .orderBy("channel")
    )


#: relative support floor for market_basket_rules: floor =
#: greatest(2, ceil(α · |orders|)). Chosen against the measured
#: brand-triple support quantiles of the synthetic corpus — the
#: floor lands between p50 and p90 at sf0.001/0.01/0.1 (supports
#: p50/p90: 4/9, 47/63, 484/529 vs floors 6, 52, 516), so the gate
#: is non-empty AND discriminating at every SF (a fixed absolute
#: floor gates an empty result at sf0.1, where no part-level triple
#: even repeats — rules are mined at BRAND level for exactly that
#: reason).
BASKET_RULES_MIN_SUPPORT = 0.0035


def market_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-priori level 3: association rules (A,B) → C over BRAND
    triples, with confidence = sup(ABC)/sup(AB) and lift =
    confidence / P(C) — the cross-sell RULE layer on top of
    `market_basket_pairs`' pair counts (which brands, TOGETHER,
    predict a third). Items are part BRANDS (broadcast dim join):
    part-level triples are support-1 at scale on this corpus (no
    triple ever repeats at sf0.1), so rule mining happens one rung
    up the hierarchy — the standard a-priori answer to sparse item
    spaces — and the support floor is RELATIVE
    (`BASKET_RULES_MIN_SUPPORT`), so the gate stays discriminating
    as the corpus grows.

    Plan: the distinct basket brand list materializes ONCE
    (checkpointed — it feeds triples, pair denominators, item counts,
    and the order total); the triple self-join is bounded by
    Σ|basket brands|³ with |basket| ≤ 7 (C(7,3)=35 per order — linear
    in orders, the level-2 argument one level up), thresholded in its
    own shuffle against the broadcast 1-row order count; each
    surviving triple emits its 3 rotations, joined to pair supports
    (equi) and a broadcast item-count dim. Lift is computed from the
    RAW integer counts in one double chain (never from the rounded
    confidence)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    items = (
        li.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        )
        .join(
            F.broadcast(
                part.select(
                    F.col("p_partkey").alias("pk"),
                    F.col("p_brand").alias("it"),
                )
            ),
            "pk",
        )
        .select("ok", "it")
        .distinct()
        .localCheckpoint(eager=True)
    )
    a = items.select("ok", F.col("it").alias("pa"))
    b = items.select("ok", F.col("it").alias("pb"))
    c = items.select("ok", F.col("it").alias("pc"))
    n_orders = items.select(F.countDistinct("ok").alias("n_orders"))
    floor = F.greatest(
        F.lit(2).cast("long"),
        F.ceil(F.lit(BASKET_RULES_MIN_SUPPORT) * F.col("n_orders")),
    )
    triples = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .join(c, "ok")
        .filter(F.col("pb") < F.col("pc"))
        .groupBy("pa", "pb", "pc")
        .agg(F.count("*").alias("sup3"))
        .crossJoin(F.broadcast(n_orders))
        .filter(F.col("sup3") >= floor)
        .drop("n_orders")
        # ≤ C(|brands|,3) rows after the floor — checkpoint so the 3
        # rotations below read this materialization instead of EACH
        # replaying the triple self-join (the plan's only heavy
        # subtree ran 3× before this)
        .localCheckpoint(eager=True)
    )
    pairs = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy(F.col("pa").alias("qa"), F.col("pb").alias("qb"))
        .agg(F.count("*").alias("sup2"))
    )
    singles = items.groupBy(F.col("it").alias("cons")).agg(
        F.count("*").alias("n_cons")
    )
    rots = None
    for ax, bx, cx in [("pa", "pb", "pc"), ("pa", "pc", "pb"), ("pb", "pc", "pa")]:
        r = triples.select(
            F.least(F.col(ax), F.col(bx)).alias("ant_a"),
            F.greatest(F.col(ax), F.col(bx)).alias("ant_b"),
            F.col(cx).alias("cons"),
            "sup3",
        )
        rots = r if rots is None else rots.unionByName(r)
    return (
        rots.join(
            pairs,
            (F.col("ant_a") == F.col("qa")) & (F.col("ant_b") == F.col("qb")),
        )
        .join(singles, "cons")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "ant_a",
            "ant_b",
            "cons",
            "sup3",
            F.round(F.col("sup3") / F.col("sup2"), 4).alias("confidence"),
            F.round(
                (F.col("sup3") * F.col("n_orders"))
                / (F.col("sup2") * F.col("n_cons")),
                4,
            ).alias("lift"),
        )
        .orderBy(F.desc("confidence"), F.desc("lift"), "ant_a", "ant_b", "cons")
    )


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


def session_path_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-path funnel mining: the top-10 most common SESSION paths
    (the exact event-type sequence inside each 30-min-gap session)
    with their conversion rates — the whole-journey complement to the
    pairwise `events_type_transitions` Markov structure (which paths
    actually happen, and which of them convert).

    Plan: the same (user, ts) exchange as `sessionization` carries
    BOTH windows (gap flag + running session id); per-session
    assembly is one groupBy collecting (ts, event_id, type) structs —
    state bounded by session length, never user history — sorted with
    the engine-side array_sort (struct field order = the (ts,
    event_id) tie-break the oracle's ORDER BY mirrors); the path
    rollup is |distinct paths|-sized; top-k is TakeOrdered."""
    from pyspark.sql import Window as W

    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    flagged = events.withColumn(
        "_new", F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    ).withColumn(
        "_sid",
        F.sum("_new").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    per_session = (
        flagged.groupBy("user_id", "_sid")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("_evs"),
        )
        .select(
            F.array_join(
                F.transform(F.col("_evs"), lambda x: x["event_type"]), ">"
            ).alias("path"),
            F.array_contains(
                F.transform(F.col("_evs"), lambda x: x["event_type"]),
                "purchase",
            ).cast("int").alias("_conv"),
        )
    )
    return (
        per_session.groupBy("path")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("_conv").cast("long").alias("n_converted"),
        )
        .withColumn(
            "conv_rate", F.round(F.col("n_converted") / F.col("n_sessions"), 4)
        )
        .orderBy(F.desc("n_sessions"), "path")
        .limit(10)
    )

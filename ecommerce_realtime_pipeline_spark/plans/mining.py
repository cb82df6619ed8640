"""Pattern-mining queries of the KPI family: market-basket pairs and
association rules, Markov-chain channel attribution, session path
mining, cohort retention, repurchase intervals, event-type transitions
and RFM segmentation.

Same determinism contract as ``kpi.py``; each query's DuckDB oracle is
its ``ORACLES`` entry right after it (``_markov_attribution_sql`` writes
the attribution's per-step CTE chain).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark.catalog import as_double, load_table, money

#: query name -> DuckDB oracle SQL, one entry per query of this module
ORACLES: dict[str, str] = {}


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


# events_type_transitions: identical lag window, (ts, event_id)
# tie-broken on both engines (both see µs timestamps).
ORACLES["events_type_transitions"] = """
        WITH seq AS (
            SELECT user_id, event_type AS dst_type,
                   lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS src_type
            FROM events
        )
        SELECT src_type, dst_type,
               count(*) AS n_transitions,
               count(DISTINCT user_id) AS n_users
        FROM seq
        WHERE src_type IS NOT NULL
        GROUP BY 1, 2
        ORDER BY n_transitions DESC, src_type, dst_type
        LIMIT 15
    """


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


# market_basket_pairs: same order of operations — distinct
# (order, part), within-order pair counts, top-20, enrich.
ORACLES["market_basket_pairs"] = """
            WITH items AS (
                SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            ),
            pairs AS (
                SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                       COUNT(*) AS n_both
                FROM items a
                JOIN items b ON a.l_orderkey = b.l_orderkey
                            AND a.l_partkey < b.l_partkey
                GROUP BY 1, 2
            ),
            top AS (
                SELECT * FROM pairs
                ORDER BY n_both DESC, part_a, part_b LIMIT 20
            ),
            pc AS (
                SELECT l_partkey, COUNT(*) AS n_part FROM items GROUP BY 1
            ),
            tot AS (
                SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items
            )
            SELECT t.part_a, t.part_b, t.n_both,
                   pa.n_part AS n_a, pb.n_part AS n_b,
                   CAST(t.n_both * tot.n_orders AS DOUBLE)
                       / (pa.n_part * pb.n_part) AS lift
            FROM top t
            JOIN pc pa ON t.part_a = pa.l_partkey
            JOIN pc pb ON t.part_b = pb.l_partkey, tot
            ORDER BY n_both DESC, part_a, part_b
        """


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


# cohort_retention: ISO Monday week truncation on both engines.
ORACLES["cohort_retention"] = """
            WITH firsts AS (
                SELECT user_id,
                       CAST(date_trunc('week', MIN(ts)) AS DATE)
                           AS cohort_week
                FROM events GROUP BY 1
            ),
            active AS (
                SELECT DISTINCT user_id,
                       CAST(date_trunc('week', ts) AS DATE) AS week
                FROM events
            )
            SELECT strftime(f.cohort_week, '%Y-%m-%d') AS cohort_week,
                   CAST(date_diff('day', f.cohort_week, a.week) // 7 AS INT)
                       AS week_offset,
                   COUNT(DISTINCT a.user_id) AS n_users
            FROM active a JOIN firsts f USING (user_id)
            GROUP BY 1, 2
            ORDER BY 1, 2
        """


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


# repurchase_intervals: exact integer day gaps; one divide.
ORACLES["repurchase_intervals"] = """
            WITH g AS (
                SELECT date_diff('day',
                           lag(o_orderdate) OVER (
                               PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey),
                           o_orderdate) AS days
                FROM orders
            )
            SELECT CASE WHEN days <= 7 THEN 'a_week'
                        WHEN days <= 30 THEN 'b_month'
                        WHEN days <= 90 THEN 'c_quarter'
                        ELSE 'd_longer' END AS band,
                   COUNT(*) AS n_intervals,
                   CAST(SUM(days) AS DOUBLE) / COUNT(*) AS avg_days
            FROM g WHERE days IS NOT NULL
            GROUP BY 1
            ORDER BY 1
        """


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
        "o_custkey", "o_orderdate", money("o_totalprice").alias("_m")
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
            as_double(F.sum("_spend")).alias("total_spend"),
            F.round(F.avg("recency_days"), 4).alias("avg_recency_days"),
            F.round(F.avg("n_orders"), 4).alias("avg_orders"),
        )
        .orderBy("segment")
    )


ORACLES["customer_rfm_segments"] = """
    WITH per_cust AS (
        SELECT o_custkey,
               MAX(o_orderdate) AS last_order,
               COUNT(*) AS n_orders,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        FROM orders GROUP BY 1
    ),
    anchor AS (SELECT MAX(o_orderdate) AS a FROM orders),
    base AS (
        SELECT o_custkey, n_orders, spend,
               date_diff('day', last_order, a) AS recency_days
        FROM per_cust, anchor
    ),
    scored AS (
        SELECT *,
               ntile(5) OVER (ORDER BY recency_days DESC, o_custkey) AS r_score,
               ntile(5) OVER (ORDER BY n_orders ASC, o_custkey) AS f_score,
               ntile(5) OVER (ORDER BY spend ASC, o_custkey) AS m_score
        FROM base
    ),
    labeled AS (
        SELECT *,
               CASE
                   WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
                       THEN 'champions'
                   WHEN f_score >= 4 THEN 'loyal'
                   WHEN m_score >= 4 THEN 'big_spenders'
                   WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
                   WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
                   ELSE 'regular'
               END AS segment
        FROM scored
    )
    SELECT segment,
           COUNT(*) AS n_customers,
           CAST(ROUND(SUM(spend), 2) AS DOUBLE) AS total_spend,
           ROUND(AVG(recency_days), 4) AS avg_recency_days,
           ROUND(AVG(n_orders), 4) AS avg_orders
    FROM labeled
    GROUP BY 1 ORDER BY 1
"""


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


def _markov_attribution_sql(steps: int = 6) -> str:
    """CTE replay of `events_markov_attribution`: 8dp DECIMAL
    probabilities, per-step exact (14,8)×(10,8) product sums rounded
    back to (14,8), scenario-vectorized."""
    head = """WITH pairs AS (
        SELECT user_id,
               lag(event_type) OVER w AS src,
               event_type AS dst,
               row_number() OVER w AS _rn
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    trans AS (
        SELECT src, dst, count(*) AS _cnt
        FROM pairs WHERE src IS NOT NULL AND src <> 'purchase'
        GROUP BY 1, 2
    ),
    totals AS (
        SELECT event_type AS src, count(*) AS _tot
        FROM events WHERE event_type <> 'purchase' GROUP BY 1
    ),
    p AS (
        SELECT trans.src, trans.dst,
               CAST(ROUND(_cnt * 1.0 / _tot, 8) AS DECIMAL(10,8)) AS _p
        FROM trans JOIN totals ON trans.src = totals.src
    ),
    nu AS (SELECT count(*) AS _n FROM pairs WHERE _rn = 1),
    v0 AS (
        SELECT dst AS state,
               CAST(ROUND(count(*) * 1.0 / _n, 8) AS DECIMAL(14,8)) AS _m
        FROM pairs, nu WHERE _rn = 1 GROUP BY dst, _n
    ),
    scen AS (
        SELECT * FROM (VALUES ('full'), ('click'), ('error'),
                              ('signup'), ('view')) AS s(scenario)
    ),
    ps AS (
        SELECT scenario, src, dst, _p FROM p CROSS JOIN scen
        WHERE scenario = 'full' OR dst <> scenario
    ),
    vs AS (
        SELECT scenario, state, _m FROM v0 CROSS JOIN scen
        WHERE scenario = 'full' OR state <> scenario
    ),
    a0 AS (SELECT scenario, _m AS _a FROM vs WHERE state = 'purchase'),
    t0 AS (SELECT scenario, state, _m FROM vs WHERE state <> 'purchase')"""
    parts = [head]
    for t in range(1, steps + 1):
        parts.append(f""",
    n{t} AS (
        SELECT c.scenario, ps.dst,
               CAST(ROUND(SUM(c._m * ps._p), 8) AS DECIMAL(14,8)) AS _m
        FROM t{t - 1} c
        JOIN ps ON c.state = ps.src AND c.scenario = ps.scenario
        GROUP BY 1, 2
    ),
    a{t} AS (SELECT scenario, _m AS _a FROM n{t} WHERE dst = 'purchase'),
    t{t} AS (SELECT scenario, dst AS state, _m FROM n{t}
             WHERE dst <> 'purchase')""")
    unions = "\n        UNION ALL ".join(
        f"SELECT scenario, _a FROM a{t}" for t in range(steps + 1)
    )
    parts.append(f""",
    convagg AS (
        SELECT scenario, SUM(_a) AS _sum
        FROM ({unions}) GROUP BY scenario
    ),
    conv AS (
        SELECT scen.scenario,
               CAST(COALESCE(_sum, 0) AS DECIMAL(14,8)) AS _conv
        FROM scen LEFT JOIN convagg ON scen.scenario = convagg.scenario
    ),
    fullc AS (SELECT _conv AS _cfull FROM conv WHERE scenario = 'full')
    SELECT scenario AS channel,
           ROUND(CAST(_cfull AS DOUBLE), 6) AS conv_full,
           ROUND(CAST(_conv AS DOUBLE), 6) AS conv_without,
           CASE WHEN CAST(_cfull AS DOUBLE) > 0
                THEN ROUND(1.0 - CAST(_conv AS DOUBLE)
                           / CAST(_cfull AS DOUBLE), 4)
                ELSE 0.0 END AS removal_effect
    FROM conv, fullc
    WHERE scenario <> 'full'
    ORDER BY channel""")
    return "".join(parts)


ORACLES["events_markov_attribution"] = _markov_attribution_sql()


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


# market_basket_rules: items are part BRANDS (part-level
# triples are support-1 at sf0.1 — no fixed floor can gate them) and
# the support floor is RELATIVE: greatest(2, ceil(α·n_orders)) with
# α = BASKET_RULES_MIN_SUPPORT, mirrored as a literal here. The
# e0 suffix forces a DOUBLE literal (DuckDB would otherwise parse
# 0.0035 as DECIMAL and ceil in decimal arithmetic).
ORACLES["market_basket_rules"] = """
    WITH items AS (
        SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS it
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    no AS (SELECT count(DISTINCT ok) AS n_orders FROM items),
    triples AS (
        SELECT a.it AS pa, b.it AS pb, c.it AS pc, count(*) AS sup3
        FROM items a
        JOIN items b ON a.ok = b.ok AND a.it < b.it
        JOIN items c ON a.ok = c.ok AND b.it < c.it
        GROUP BY 1, 2, 3
        HAVING count(*) >= greatest(
            2, CAST(ceil(0.0035e0 * (SELECT n_orders FROM no)) AS BIGINT)
        )
    ),
    pairs AS (
        SELECT a.it AS qa, b.it AS qb, count(*) AS sup2
        FROM items a JOIN items b ON a.ok = b.ok AND a.it < b.it
        GROUP BY 1, 2
    ),
    singles AS (
        SELECT it AS cons, count(*) AS n_cons FROM items GROUP BY 1
    ),
    rots AS (
        SELECT pa AS ant_a, pb AS ant_b, pc AS cons, sup3 FROM triples
        UNION ALL
        SELECT pa, pc, pb, sup3 FROM triples
        UNION ALL
        SELECT pb, pc, pa, sup3 FROM triples
    )
    SELECT ant_a, ant_b, cons, sup3,
           ROUND(sup3 * 1.0 / sup2, 4) AS confidence,
           ROUND((sup3 * n_orders) * 1.0 / (sup2 * n_cons), 4) AS lift
    FROM rots
    JOIN pairs ON ant_a = qa AND ant_b = qb
    JOIN singles USING (cons), no
    ORDER BY confidence DESC, lift DESC, ant_a, ant_b, cons
"""


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


ORACLES["session_path_mining"] = """
    WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                         > 1800 * 1000000
                         OR lag(epoch_us(ts)) OVER w IS NULL
                    THEN 1 ELSE 0 END AS _new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sid AS (
        SELECT *, SUM(_new) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS _sid
        FROM flagged
    ),
    per_session AS (
        SELECT string_agg(event_type, '>' ORDER BY ts, event_id) AS path,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS _conv
        FROM sid GROUP BY user_id, _sid
    )
    SELECT path,
           count(*) AS n_sessions,
           CAST(SUM(_conv) AS BIGINT) AS n_converted,
           ROUND(SUM(_conv) * 1.0 / count(*), 4) AS conv_rate
    FROM per_session
    GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 10
"""

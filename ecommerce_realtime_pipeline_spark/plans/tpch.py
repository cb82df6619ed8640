"""TPC-H-style supplier / nation / lineitem analytics of the KPI
family: pricing summary, shipping priority, returned items, market
share, promotion revenue, supplier concentration, trade flows and the
other star joins over the driver testdata.

Same determinism contract as ``kpi.py``: money in DECIMAL
(``catalog.money``) until the final DOUBLE cast (``catalog.as_double``),
and each query's DuckDB oracle, its ``ORACLES`` entry right after it,
aliased column for column. Scale notes are on each function.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark.catalog import MONEY, as_double, load_table, money

#: query name -> DuckDB oracle SQL, one entry per query of this module
ORACLES: dict[str, str] = {}


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style pricing summary (R21/R24): 2-key groupBy, 8 aggregates.

    All sums in DECIMAL (exact); averages derived from exact sums and
    counts in double (deterministic given identical operands).
    """
    li = load_table(spark, sf_dir, "lineitem")
    qty = money("l_quantity")
    base = money("l_extendedprice")
    disc_price = money("l_extendedprice") * (F.lit(1).cast(MONEY) - money("l_discount"))
    charge = disc_price * (F.lit(1).cast(MONEY) + money("l_tax"))
    n = F.count("*")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            as_double(F.sum(qty)).alias("sum_qty"),
            as_double(F.sum(base)).alias("sum_base_price"),
            as_double(F.sum(disc_price)).alias("sum_disc_price"),
            as_double(F.sum(charge)).alias("sum_charge"),
            F.round(F.sum(qty).cast("double") / n, 6).alias("avg_qty"),
            F.round(F.sum(base).cast("double") / n, 6).alias("avg_price"),
            F.round(F.sum(money("l_discount")).cast("double") / n, 6).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


ORACLES["pricing_summary"] = """
        SELECT l_returnflag, l_linestatus,
               CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                               * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS sum_disc_price,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                               * (1 - CAST(l_discount AS DECIMAL(18,2)))
                               * (1 + CAST(l_tax AS DECIMAL(18,2)))), 2) AS DOUBLE) AS sum_charge,
               ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
               ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_price,
               ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY 1, 2
    """


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
    rev = money("l_extendedprice") * (F.lit(1).cast(MONEY) - money("l_discount"))
    j = orders.join(
        cust, orders["o_custkey"] == cust["c_custkey"], "left_semi"
    ).join(li, F.col("o_orderkey") == F.col("l_orderkey"))
    return (
        j.groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(as_double(F.sum(rev)).alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


ORACLES["shipping_priority"] = """
    SELECT o_orderkey, o_orderdate, o_orderpriority,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                           * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
                AS DOUBLE) AS revenue
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_custkey IN (
            SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
          )
      AND o_orderdate < TIMESTAMP '1999-06-30 00:00:00'
      AND l_shipdate > TIMESTAMP '1999-06-30 00:00:00'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
"""


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
    rev = money("l_extendedprice") * (F.lit(1).cast(MONEY) - money("l_discount"))
    per_cust = (
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_custkey")
        .agg(as_double(F.sum(rev)).alias("revenue"))
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


ORACLES["returned_items_report"] = """
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                               * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
                    AS DOUBLE) AS revenue
        FROM orders
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1999-04-01 00:00:00'
          AND l_returnflag = 'R'
        GROUP BY 1
    )
    SELECT c_custkey, c_name, n_name,
           ROUND(c_acctbal, 2) AS acctbal, revenue
    FROM per_cust
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
"""


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
    vol = money("l_extendedprice") * (F.lit(1).cast(MONEY) - money("l_discount"))
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
        F.lit(0).cast(MONEY)
    )
    return (
        j.groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(
            as_double(F.sum(target)).alias("nation_revenue"),
            as_double(F.sum(vol)).alias("total_revenue"),
            F.round(
                F.sum(target).cast("double") / F.sum(vol).cast("double"), 6
            ).alias("mkt_share"),
        )
        .orderBy("ship_year")
    )


ORACLES["nation_market_share"] = """
    SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
           CAST(ROUND(SUM(CASE WHEN n_name = 'NATION_3'
                    THEN CAST(l_extendedprice AS DECIMAL(18,2))
                         * (1 - CAST(l_discount AS DECIMAL(18,2)))
                    ELSE CAST(0 AS DECIMAL(18,2)) END), 2) AS DOUBLE)
               AS nation_revenue,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                           * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
                AS DOUBLE) AS total_revenue,
           ROUND(CAST(SUM(CASE WHEN n_name = 'NATION_3'
                    THEN CAST(l_extendedprice AS DECIMAL(18,2))
                         * (1 - CAST(l_discount AS DECIMAL(18,2)))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                 / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l_discount AS DECIMAL(18,2))))
                        AS DOUBLE), 6) AS mkt_share
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_type = 'STANDARD'
    GROUP BY 1 ORDER BY 1
"""


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
    vol = money("l_extendedprice") * (F.lit(1).cast(MONEY) - money("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0).cast(MONEY))
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy(F.month("l_shipdate").alias("ship_month"))
        .agg(
            as_double(F.sum(promo)).alias("promo_revenue"),
            as_double(F.sum(vol)).alias("total_revenue"),
            F.round(
                F.lit(100.0) * F.sum(promo).cast("double")
                / F.sum(vol).cast("double"),
                6,
            ).alias("promo_share_pct"),
        )
        .orderBy("ship_month")
    )


ORACLES["promo_revenue_share"] = """
    SELECT CAST(month(l_shipdate) AS INT) AS ship_month,
           CAST(ROUND(SUM(CASE WHEN p_type = 'PROMO'
                    THEN CAST(l_extendedprice AS DECIMAL(18,2))
                         * (1 - CAST(l_discount AS DECIMAL(18,2)))
                    ELSE CAST(0 AS DECIMAL(18,2)) END), 2) AS DOUBLE)
               AS promo_revenue,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                           * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
                AS DOUBLE) AS total_revenue,
           ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                    THEN CAST(l_extendedprice AS DECIMAL(18,2))
                         * (1 - CAST(l_discount AS DECIMAL(18,2)))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                 / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l_discount AS DECIMAL(18,2))))
                        AS DOUBLE), 6) AS promo_share_pct
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '2000-01-01 00:00:00'
    GROUP BY 1 ORDER BY 1
"""


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


ORACLES["order_priority_fulfillment"] = """
    SELECT o_orderpriority, COUNT(*) AS n_late_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1999-07-01 00:00:00'
      AND EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey
            AND l_shipdate > o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY 1 ORDER BY 1
"""


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


ORACLES["customer_order_distribution"] = """
    WITH per_cust AS (
        SELECT o_custkey, count(*) AS _n FROM orders GROUP BY 1
    )
    SELECT COALESCE(_n, 0) AS n_orders,
           count(*) AS n_customers
    FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey
    GROUP BY 1
    ORDER BY n_customers DESC, n_orders DESC
"""


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
        "l_orderkey", F.col("l_quantity").cast(MONEY).alias("_q")
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
            as_double(F.col("o_totalprice")).alias("order_total"),
            as_double(F.col("_qty")).alias("total_qty"),
        )
        .orderBy(F.desc("order_total"), "o_orderkey")
        .limit(20)
    )


ORACLES["large_order_customers"] = """
    WITH big AS (
        SELECT l_orderkey,
               SUM(CAST(l_quantity AS DECIMAL(18,2))) AS _qty
        FROM lineitem GROUP BY 1
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300
    )
    SELECT c_custkey, c_name, o_orderkey, o_orderdate,
           CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS order_total,
           CAST(ROUND(_qty, 2) AS DOUBLE) AS total_qty
    FROM big
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY order_total DESC, o_orderkey
    LIMIT 20
"""


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
        F.sum(F.col("c_acctbal").cast(MONEY)).alias("_s"),
        F.count("*").cast("decimal(12,0)").alias("_n"),
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1999-09-01"))
        .select("o_custkey")
    )
    rich = cust.crossJoin(F.broadcast(pos)).filter(
        F.col("c_acctbal").cast(MONEY) * F.col("_n") > F.col("_s")
    )
    dormant = rich.join(
        recent, rich["c_custkey"] == recent["o_custkey"], "left_anti"
    )
    return (
        dormant.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            as_double(F.sum(F.col("c_acctbal").cast(MONEY))).alias(
                "total_balance"
            ),
        )
        .orderBy("c_mktsegment")
    )


ORACLES["dormant_customer_balance"] = """
    WITH pos AS (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS _s,
               CAST(count(*) AS DECIMAL(12,0)) AS _n
        FROM customer WHERE c_acctbal > 0
    ),
    rich AS (
        SELECT c_custkey, c_mktsegment, c_acctbal
        FROM customer, pos
        WHERE CAST(c_acctbal AS DECIMAL(18,2)) * _n > _s
    )
    SELECT c_mktsegment,
           count(*) AS n_customers,
           CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS total_balance
    FROM rich
    WHERE NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = rich.c_custkey
          AND o_orderdate >= TIMESTAMP '1999-09-01 00:00:00'
    )
    GROUP BY 1
    ORDER BY 1
"""


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
    vol = money("l_extendedprice") * (F.lit(1).cast(MONEY) - money("l_discount"))
    per_supp = (
        li.groupBy("l_suppkey")
        .agg(F.round(F.sum(vol), 2).cast(MONEY).alias("_r"))
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
            as_double(F.sum("_r")).alias("total_revenue"),
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


ORACLES["nation_supplier_hhi"] = """
    WITH per_supp AS (
        SELECT l_suppkey,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                               * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
                    AS DECIMAL(18,2)) AS _r
        FROM lineitem GROUP BY 1
    )
    SELECT n_name,
           count(*) AS n_suppliers,
           CAST(ROUND(SUM(_r), 2) AS DOUBLE) AS total_revenue,
           ROUND(CAST(MAX(_r) AS DOUBLE) / CAST(SUM(_r) AS DOUBLE), 4)
               AS top_share,
           -- operands widened to (19,2): DuckDB executes a
           -- (18,2)x(18,2) product in int64 storage and overflows;
           -- (19,2) forces int128. Spark's exact (37,4) product of
           -- the (18,2) values is numerically identical.
           ROUND(CAST(SUM(CAST(_r AS DECIMAL(19,2)) * CAST(_r AS DECIMAL(19,2)))
                      AS DOUBLE)
                 / (CAST(SUM(_r) AS DOUBLE) * CAST(SUM(_r) AS DOUBLE)), 4)
               AS hhi
    FROM per_supp
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    GROUP BY 1
    ORDER BY hhi DESC, n_name
"""


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
    vol = money("l_extendedprice") * (F.lit(1).cast(MONEY) - money("l_discount"))
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
            as_double(F.sum(vol)).alias("revenue"),
        )
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


ORACLES["nation_trade_flows"] = """
    SELECT sn.n_name AS supp_nation,
           cn.n_name AS cust_nation,
           CAST(year(l_shipdate) AS BIGINT) AS ship_year,
           count(*) AS n_lines,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                           * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE sn.n_name IN ('NATION_13', 'NATION_19')
      AND cn.n_name IN ('NATION_13', 'NATION_19')
      AND sn.n_name <> cn.n_name
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
"""


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
    vol = money("l_extendedprice") * (F.lit(1).cast(MONEY) - money("l_discount"))
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.round(F.sum(vol), 2).cast(MONEY).alias("_rev"))
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
            as_double(F.col("_rev")).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


ORACLES["top_supplier_quarter"] = """
    WITH rev AS (
        SELECT l_suppkey,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                               * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
                    AS DECIMAL(18,2)) AS _rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1999-04-01 00:00:00'
        GROUP BY 1
    )
    SELECT s_suppkey, s_name,
           CAST(ROUND(_rev, 2) AS DOUBLE) AS total_revenue
    FROM rev JOIN supplier ON l_suppkey = s_suppkey
    WHERE _rev = (SELECT MAX(_rev) FROM rev)
    ORDER BY s_suppkey
"""


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
    gain = money("l_extendedprice") * money("l_discount")
    return li.agg(
        F.count("*").alias("n_lines"),
        as_double(F.sum(gain)).alias("potential_revenue"),
    )


ORACLES["discount_revenue_impact"] = """
    SELECT count(*) AS n_lines,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                           * CAST(l_discount AS DECIMAL(18,2))), 2)
                AS DOUBLE) AS potential_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '2000-01-01 00:00:00'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 10
"""


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
        "o_custkey", "o_orderdate", money("o_totalprice").alias("_m")
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
        .agg(F.round(F.sum("_m"), 2).cast(MONEY).alias("_rev"))
    )
    prev = F.lag("_rev").over(W.partitionBy("n_name").orderBy("order_year"))
    return per.select(
        "n_name",
        "order_year",
        as_double(F.col("_rev")).alias("revenue"),
        F.round(
            (F.col("_rev") - prev).cast("double") / prev.cast("double"), 4
        ).alias("yoy_growth"),
    ).orderBy("n_name", "order_year")


ORACLES["nation_yoy_growth"] = """
    WITH per AS (
        SELECT n_name,
               CAST(year(o_orderdate) AS BIGINT) AS order_year,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                    AS DECIMAL(18,2)) AS _rev
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2
    )
    SELECT n_name, order_year,
           CAST(ROUND(_rev, 2) AS DOUBLE) AS revenue,
           ROUND(CAST(_rev - lag(_rev) OVER w AS DOUBLE)
                 / CAST(lag(_rev) OVER w AS DOUBLE), 4) AS yoy_growth
    FROM per
    WINDOW w AS (PARTITION BY n_name ORDER BY order_year)
    ORDER BY n_name, order_year
"""


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
        "l_partkey", "l_suppkey", money("l_extendedprice").alias("_price")
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
            as_double(F.col("_best")).alias("best_price"),
            "s_suppkey",
            "s_name",
            F.col("n_name").alias("supp_nation"),
        )
        .orderBy("p_partkey", "s_suppkey")
    )


ORACLES["cheapest_supplier_per_part"] = """
    WITH pf AS (
        SELECT p_partkey, p_name FROM part
        WHERE p_size = 6 AND p_type = 'STANDARD'
    ),
    off AS (
        SELECT l_partkey, l_suppkey,
               CAST(l_extendedprice AS DECIMAL(18,2)) AS _price
        FROM lineitem JOIN pf ON l_partkey = p_partkey
    ),
    best AS (
        SELECT l_partkey, MIN(_price) AS _best FROM off GROUP BY 1
    )
    SELECT DISTINCT p_partkey, p_name,
           CAST(ROUND(_best, 2) AS DOUBLE) AS best_price,
           s_suppkey, s_name, n_name AS supp_nation
    FROM off
    JOIN best ON off.l_partkey = best.l_partkey AND off._price = best._best
    JOIN pf ON off.l_partkey = pf.p_partkey
    JOIN supplier ON off.l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    ORDER BY p_partkey, s_suppkey
"""


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
            F.round(F.col("p_retailprice") * 0.5, 2).cast(MONEY).alias("_unit_cost"),
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
    profit = money("l_extendedprice") * (
        F.lit(1).cast(MONEY) - money("l_discount")
    ) - F.col("_unit_cost") * money("l_quantity")
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
            as_double(F.sum(profit)).alias("profit"),
        )
        .orderBy("supp_nation", "ship_year")
    )


ORACLES["product_profit_by_nation_year"] = """
    WITH pf AS (
        SELECT p_partkey,
               CAST(ROUND(p_retailprice * 0.5, 2) AS DECIMAL(18,2)) AS _unit_cost
        FROM part WHERE p_name LIKE '% bolt'
    )
    SELECT n_name AS supp_nation,
           CAST(year(l_shipdate) AS BIGINT) AS ship_year,
           count(*) AS n_lines,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                           * (1 - CAST(l_discount AS DECIMAL(18,2)))
                          - _unit_cost * CAST(l_quantity AS DECIMAL(18,2))), 2)
                AS DOUBLE) AS profit
    FROM lineitem
    JOIN pf ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    GROUP BY 1, 2
    ORDER BY 1, 2
"""


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
        "l_partkey", "l_quantity", money("l_extendedprice").alias("_e")
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


ORACLES["small_quantity_revenue"] = """
    WITH pf AS (
        SELECT p_partkey FROM part WHERE p_brand = 'Brand#13'
    ),
    j AS (
        SELECT l_partkey, l_quantity,
               CAST(l_extendedprice AS DECIMAL(18,2)) AS _e,
               0.2 * AVG(l_quantity) OVER (PARTITION BY l_partkey) AS _thr
        FROM lineitem JOIN pf ON l_partkey = p_partkey
    )
    SELECT count(*) AS n_lines,
           ROUND(CAST(SUM(_e) AS DOUBLE) / 7.0, 2) AS avg_yearly_revenue
    FROM j WHERE l_quantity < _thr
"""


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
    rev = money("l_extendedprice") * (F.lit(1).cast(MONEY) - money("l_discount"))
    return j.filter(disj).agg(
        F.count("*").alias("n_lines"),
        as_double(F.sum(rev)).alias("revenue"),
    )


ORACLES["disjunctive_promo_revenue"] = """
    SELECT count(*) AS n_lines,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                           * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
"""


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


ORACLES["excess_volume_suppliers"] = """
    WITH ps AS (
        SELECT l_partkey, l_suppkey, SUM(l_quantity) AS _qty
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '2000-01-01 00:00:00'
        GROUP BY 1, 2
    ),
    dom AS (
        SELECT l_suppkey
        FROM (
            SELECT l_suppkey, _qty,
                   SUM(_qty) OVER (PARTITION BY l_partkey) AS _total,
                   COUNT(*) OVER (PARTITION BY l_partkey) AS _nsupp
            FROM ps
        )
        WHERE _nsupp >= 2 AND _qty > 0.5 * _total
    )
    SELECT s_suppkey, s_name, count(*) AS n_dominated_parts
    FROM dom
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_3'
    GROUP BY 1, 2
    ORDER BY 3 DESC, 1
"""


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


ORACLES["waiting_orders_suppliers"] = """
    WITH ps AS (
        SELECT l_orderkey, l_suppkey,
               MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                        THEN 1 ELSE 0 END) AS _late
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2
    ),
    qual AS (
        SELECT l_suppkey
        FROM (
            SELECT l_suppkey, _late,
                   COUNT(*) OVER (PARTITION BY l_orderkey) AS _nsupp,
                   SUM(_late) OVER (PARTITION BY l_orderkey) AS _nlate
            FROM ps
        )
        WHERE _late = 1 AND _nlate = 1 AND _nsupp >= 2
    )
    SELECT s_suppkey, s_name, count(*) AS numwait
    FROM qual JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY 1, 2
    ORDER BY 3 DESC, 1
    LIMIT 20
"""


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


ORACLES["supplier_part_diversity"] = """
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#5'
      AND p_size IN (1, 10, 20, 30, 40, 50)
      AND l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY 1, 2, 3
    ORDER BY 4 DESC, 1, 2, 3
"""


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


ORACLES["shipping_delay_priority_split"] = """
    SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) < 30
                THEN 'FAST' ELSE 'SLOW' END AS delay_bucket,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS critical_lines,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS other_lines
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '2000-01-01 00:00:00'
    GROUP BY 1
    ORDER BY 1
"""

"""Data-quality queries (SURVEY §2.4 R3–R8, R12, R18, R23) over the
driver testdata — the batch face of the validation/quarantine operator
family in ``operators/validation.py``.

The reference encodes these semantics as Postgres constraints
(``sql/init/02_create_tables.sql:56-121``: CHECKs, ``email UNIQUE``,
``UNIQUE(order_id, product_id)``, 4 FKs) and a ``processing_stats``
metrics table (:134-141). Here each becomes a declarative DataFrame
query with a DuckDB oracle.

Scale stance (100 TB):
- FK orphan checks are LEFT ANTI joins — Catalyst broadcasts the
  smaller (distinct-key) side; counting collapses to a 1-row aggregate
  before anything crosses the driver boundary.
- Row-rule counts are conditional aggregations folded into ONE scan per
  table (not one scan per rule).
- The per-rule metrics view stacks 1-row aggregates with unionByName —
  the unioned frames are already aggregated, so the union moves a few
  dozen rows, never data.
- Dedup keeps `row_number()==1` under a deterministic total order (one
  shuffle on the dup key) — the batch form of last-write-wins upsert.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark.catalog import MONEY, load_table, money

# Domains observed in the driver testdata (TPC-H-ish); the analog of the
# reference's status/event_type CHECK IN (...) lists.
TPCH_ORDER_STATUSES = ("O", "F", "P")
TPCH_EVENT_TYPES = ("view", "click", "purchase", "signup", "error")


def _cnt_if(cond, alias: str):
    return F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(alias)


def dq_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6: orphan-row counts for every FK relationship in the testdata
    star schema (orders→customer, lineitem→orders, lineitem→part,
    events→customer). One row, four counts. SQL FK semantics: a NULL
    reference is not checked (``dq_constraint_violations`` counts it
    as ``null_custkey``/``null_user_id``), so it is no orphan."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    events = load_table(spark, sf_dir, "events")

    def orphans(child: DataFrame, fk: str, parent: DataFrame, pk: str, alias: str) -> DataFrame:
        return (
            child.filter(child[fk].isNotNull())
            .join(parent.select(pk).distinct(), child[fk] == parent[pk], "left_anti")
            .agg(F.count("*").alias(alias))
        )

    a = orphans(orders, "o_custkey", customer, "c_custkey", "orders_no_customer")
    b = orphans(lineitem, "l_orderkey", orders, "o_orderkey", "lineitem_no_order")
    c = orphans(lineitem, "l_partkey", part, "p_partkey", "lineitem_no_part")
    d = orphans(events, "user_id", customer, "c_custkey", "events_no_user")
    # all four are 1-row aggregates — the cross joins move 4 rows total
    return a.crossJoin(b).crossJoin(c).crossJoin(d)


def dq_duplicate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5: uniqueness-constraint audit — duplicate counts for each
    primary key (and the lineitem line-number compound key)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    lineitem = load_table(spark, sf_dir, "lineitem")
    a = customer.agg(
        (F.count("*") - F.countDistinct("c_custkey")).alias("customer_pk_dups")
    )
    b = orders.agg((F.count("*") - F.countDistinct("o_orderkey")).alias("orders_pk_dups"))
    c = part.agg((F.count("*") - F.countDistinct("p_partkey")).alias("part_pk_dups"))
    d = lineitem.agg(
        (F.count("*") - F.countDistinct("l_orderkey", "l_linenumber")).alias("lineitem_line_dups")
    )
    return a.crossJoin(b).crossJoin(c).crossJoin(d)


def dq_constraint_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7/R8: NOT NULL + range + domain CHECK counts, one conditional-agg
    scan per table (orders, lineitem, events). One row."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")
    o = orders.agg(
        _cnt_if(F.col("o_custkey").isNull(), "null_custkey"),
        _cnt_if(F.col("o_totalprice") < 0, "neg_totalprice"),
        _cnt_if(~F.col("o_orderstatus").isin(list(TPCH_ORDER_STATUSES)), "bad_status"),
    )
    li = lineitem.agg(
        _cnt_if(F.col("l_quantity") <= 0, "nonpos_quantity"),
        _cnt_if(F.col("l_extendedprice") < 0, "neg_extendedprice"),
        _cnt_if((F.col("l_discount") < 0) | (F.col("l_discount") > 1), "bad_discount"),
    )
    ev = events.agg(
        _cnt_if(~F.col("event_type").isin(list(TPCH_EVENT_TYPES)), "bad_event_type"),
        _cnt_if(F.col("user_id").isNull(), "null_user_id"),
    )
    return o.crossJoin(li).crossJoin(ev)


def order_total_reagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R12 re-aggregation check: recompute each order's total from its
    line items (Σ extprice·(1−disc)·(1+tax), rounded per line then
    summed exactly in DECIMAL) and count headers that disagree by more
    than 1 cent, plus headers with no lines at all. One row.

    Scale: one shuffle of lineitem on l_orderkey (pre-aggregated
    map-side), then a join against orders on its key.
    """
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    line_charge = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")), 2
    ).cast(MONEY)
    recomputed = lineitem.groupBy("l_orderkey").agg(
        F.sum(line_charge).alias("_recomputed")
    )
    joined = orders.join(
        recomputed, orders.o_orderkey == recomputed.l_orderkey, "left"
    )
    diff = F.abs(F.col("o_totalprice").cast(MONEY) - F.col("_recomputed"))
    return joined.agg(
        F.count("*").alias("n_orders"),
        _cnt_if(F.col("_recomputed").isNull(), "n_orders_without_items"),
        _cnt_if(diff <= 0.01, "n_total_matches"),
        _cnt_if(diff > 0.01, "n_total_mismatches"),
    )


def dq_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R18 + R23: the per-rule data-quality metrics table — long format
    (table_name, rule, n_violations), one row per audited rule.

    Scale: ONE scan per audited child table — row rules (null/range/
    domain), PK-dup counts and FK-orphan flags are fused into a single
    conditional aggregate after left-joining the DISTINCT parent key
    sets (key-column-pruned scans; Catalyst broadcasts small key sets,
    AQE shuffles fact-sized ones). The naive form — separate queries per
    rule family — scanned orders/lineitem 3-5× each. The 1-row
    aggregates are then unpivoted and stacked with unionByName. An FK
    orphan is a non-NULL reference without a parent, as in
    ``dq_fk_orphans``."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    events = load_table(spark, sf_dir, "events")

    cust_keys = customer.select(F.col("c_custkey").alias("_ck")).distinct()
    order_keys = orders.select(F.col("o_orderkey").alias("_ok")).distinct()
    part_keys = part.select(F.col("p_partkey").alias("_pk")).distinct()

    def orphan(fk_col: str, parent_key: str, alias: str):
        return _cnt_if(F.col(fk_col).isNotNull() & F.col(parent_key).isNull(), alias)

    o = orders.join(cust_keys, orders.o_custkey == F.col("_ck"), "left").agg(
        _cnt_if(F.col("o_custkey").isNull(), "null_custkey"),
        _cnt_if(F.col("o_totalprice") < 0, "neg_totalprice"),
        _cnt_if(~F.col("o_orderstatus").isin(list(TPCH_ORDER_STATUSES)), "bad_status"),
        orphan("o_custkey", "_ck", "orders_no_customer"),
        (F.count("*") - F.countDistinct("o_orderkey")).alias("orders_pk_dups"),
    )
    li = (
        lineitem.join(order_keys, lineitem.l_orderkey == F.col("_ok"), "left")
        .join(part_keys, lineitem.l_partkey == F.col("_pk"), "left")
        .agg(
            _cnt_if(F.col("l_quantity") <= 0, "nonpos_quantity"),
            _cnt_if(F.col("l_extendedprice") < 0, "neg_extendedprice"),
            _cnt_if((F.col("l_discount") < 0) | (F.col("l_discount") > 1), "bad_discount"),
            orphan("l_orderkey", "_ok", "lineitem_no_order"),
            orphan("l_partkey", "_pk", "lineitem_no_part"),
            (F.count("*") - F.countDistinct("l_orderkey", "l_linenumber")).alias(
                "lineitem_line_dups"
            ),
        )
    )
    ev = events.join(cust_keys, events.user_id == F.col("_ck"), "left").agg(
        _cnt_if(~F.col("event_type").isin(list(TPCH_EVENT_TYPES)), "bad_event_type"),
        _cnt_if(F.col("user_id").isNull(), "null_user_id"),
        orphan("user_id", "_ck", "events_no_user"),
    )
    cu = customer.agg(
        (F.count("*") - F.countDistinct("c_custkey")).alias("customer_pk_dups")
    )
    pa = part.agg((F.count("*") - F.countDistinct("p_partkey")).alias("part_pk_dups"))

    def melt(df: DataFrame, table: str) -> DataFrame:
        return df.unpivot([], df.columns, "rule", "n_violations").select(
            F.lit(table).alias("table_name"), "rule", F.col("n_violations").cast("long")
        )

    return (
        melt(o, "orders")
        .unionByName(melt(li, "lineitem"))
        .unionByName(melt(ev, "events"))
        .unionByName(melt(cu, "customer"))
        .unionByName(melt(pa, "part"))
    )


def dedup_lineitem_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4 key-dedup (last-write-wins upsert, batch form): keep exactly
    one lineitem row per (l_orderkey, l_linenumber) under a
    deterministic total order, report survivor-set aggregates.

    The testdata deliberately carries duplicate line numbers, so this
    exercises real dedup. One shuffle on the compound key.
    """
    li = load_table(spark, sf_dir, "lineitem")
    order_cols = [
        "l_partkey",
        "l_suppkey",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    ]
    rn = F.row_number().over(
        Window.partitionBy("l_orderkey", "l_linenumber").orderBy(
            *[F.col(c).asc() for c in order_cols]
        )
    )
    # survivor and total stats in ONE windowed pass (a separate total
    # count would re-scan the fact table)
    keep = F.col("_rn") == 1
    return li.withColumn("_rn", rn).agg(
        F.count(F.when(keep, 1)).alias("n_kept"),
        F.count(F.when(~keep, 1)).alias("n_dropped"),
        F.round(F.sum(F.when(keep, F.col("l_quantity").cast(MONEY))), 2)
        .cast("double")
        .alias("sum_qty_kept"),
        F.round(F.sum(F.when(keep, F.col("l_extendedprice").cast(MONEY))), 2)
        .cast("double")
        .alias("sum_extprice_kept"),
    )


def set_ops_actors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R23 set-operator workload: customers-with-orders vs
    users-with-events — union / intersect / except cardinalities in one
    row.

    Plan: ONE scan per fact, side-tagged ``unionByName``, one shuffle on
    the key, then every set cardinality falls out of one conditional
    aggregate over the per-key side flags. The literal
    ``intersect``/``subtract`` operator form scans each fact 4× and
    shuffles 5× for the same answer (it is pinned equal to this plan in
    tests — the operators stay in the engine surface; this query carries
    the plan you'd actually run at 100 TB).
    """
    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")
    tagged = (
        orders.select(
            F.col("o_custkey").alias("actor_key"),
            F.lit(1).alias("_o"),
            F.lit(0).alias("_e"),
        )
        .unionByName(
            events.select(
                F.col("user_id").alias("actor_key"),
                F.lit(0).alias("_o"),
                F.lit(1).alias("_e"),
            )
        )
        .groupBy("actor_key")
        .agg(F.max("_o").alias("_o"), F.max("_e").alias("_e"))
    )
    return tagged.agg(
        F.sum("_o").cast("long").alias("n_order_customers"),
        F.sum("_e").cast("long").alias("n_event_users"),
        F.count("*").alias("n_union"),
        F.sum(F.col("_o") * F.col("_e")).cast("long").alias("n_intersect"),
        F.sum(F.col("_o") * (1 - F.col("_e"))).cast("long").alias("n_only_orders"),
    )


def revenue_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R24 explicit GROUPING SETS (beyond rollup): revenue at
    (region, status), (region), (status) — via the engine's SQL surface.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_gs_orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("_gs_customer")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("_gs_nation")
    load_table(spark, sf_dir, "region").createOrReplaceTempView("_gs_region")
    return spark.sql(
        """
        SELECT COALESCE(r_name, 'ALL') AS region,
               COALESCE(o_orderstatus, 'ALL') AS status,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
               count(*) AS n_orders
        FROM _gs_orders
        JOIN _gs_customer ON o_custkey = c_custkey
        JOIN _gs_nation ON c_nationkey = n_nationkey
        JOIN _gs_region ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS ((r_name, o_orderstatus), (r_name), (o_orderstatus))
        """
    )


def customers_segment_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-DRIFT monitor between two snapshots (the DQ alarm
    that catches a bad backfill or skewed ingest): per market segment,
    old/new counts and the chi-square contribution
    (n_new − E)²/E with E = n_old · N_new/N_old — computed from EXACT
    integer counts through a fixed IEEE chain (the anomaly-scan
    pattern), so the scores hash-match. Snapshot B reuses the CDC
    fixture perturbation (modular predicates ⇒ the oracle derives both
    distributions analytically).

    Scale: two count-aggregates (one per snapshot — in production the
    old side is the already-materialized aggregate, i.e. free) + a
    |segments|-row join; nothing row-level crosses the network."""
    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    new = cust.filter(k % 97 != 0).unionByName(
        cust.filter(k % 31 == 0).withColumn("c_custkey", k + 1_000_000)
    )
    old_c = cust.groupBy("c_mktsegment").agg(F.count("*").alias("n_old"))
    new_c = new.groupBy("c_mktsegment").agg(F.count("*").alias("n_new"))
    tot = (
        old_c.agg(F.sum("n_old").alias("_no"))
        .crossJoin(new_c.agg(F.sum("n_new").alias("_nn")))
    )
    # FULL OUTER + zero-fill: the loudest drift signals are a segment
    # VANISHING (n_new = 0) or APPEARING (n_old = 0) — an inner join
    # would silence the alarm exactly when drift is maximal. A new
    # segment has expected 0 (chi2 undefined → NULL, the count columns
    # carry the signal); a vanished one contributes its full expected
    # mass.
    j = old_c.join(new_c, "c_mktsegment", "full_outer").crossJoin(
        F.broadcast(tot)
    )
    n_old = F.coalesce("n_old", F.lit(0))
    n_new = F.coalesce("n_new", F.lit(0))
    expected = n_old.cast("double") * (
        F.col("_nn").cast("double") / F.col("_no")
    )
    chi = F.when(
        expected > 0,
        (n_new.cast("double") - expected)
        * (n_new.cast("double") - expected)
        / expected,
    )
    return (
        j.select(
            "c_mktsegment",
            n_old.alias("n_old"),
            n_new.alias("n_new"),
            F.round(expected, 6).alias("expected_new"),
            F.round(chi, 6).alias("chi2_contrib"),
        )
        .orderBy("c_mktsegment")
    )


def revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R24 completed: CUBE — all 2^k grouping combinations of
    (region, status) including the grand total, via the native
    `DataFrame.cube` operator (one expanded partial-agg shuffle; the
    4-set expansion is planned as ONE Expand node, not four scans).
    `grouping()` disambiguates real NULLs from subtotal rows — the
    COALESCE('ALL') labeling matches the grouping-sets precedent."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.cube("r_name", "o_orderstatus")
        .agg(
            F.round(F.sum(money("o_totalprice")), 2)
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_orders"),
            # grouping() (not coalesce) labels subtotal rows: a REAL
            # NULL in the data would otherwise be merged into the
            # 'ALL' subtotal indistinguishably. Must be computed inside
            # agg — it reads the grouping-set bitmask.
            F.grouping("r_name").alias("_gr"),
            F.grouping("o_orderstatus").alias("_gs"),
        )
        .select(
            F.when(F.col("_gr") == 1, F.lit("ALL"))
            .otherwise(F.col("r_name"))
            .alias("region"),
            F.when(F.col("_gs") == 1, F.lit("ALL"))
            .otherwise(F.col("o_orderstatus"))
            .alias("status"),
            "revenue",
            "n_orders",
        )
        .orderBy("region", "status")
    )


# ---------------------------------------------------------------------------
# DuckDB oracles (driver runs these side-by-side at sf0.01)
# ---------------------------------------------------------------------------

ORACLES: dict[str, str] = {
    # drift: both distributions derived from the modular perturbation
    # predicates; chi2 chain is the same fixed IEEE sequence.
    "customers_segment_drift": """
        WITH old_c AS (
            SELECT c_mktsegment, count(*) AS n_old FROM customer GROUP BY 1
        ),
        new_c AS (
            SELECT c_mktsegment, count(*) AS n_new
            FROM (
                SELECT c_mktsegment FROM customer WHERE c_custkey % 97 <> 0
                UNION ALL
                SELECT c_mktsegment FROM customer WHERE c_custkey % 31 = 0
            ) GROUP BY 1
        ),
        tot AS (
            SELECT (SELECT SUM(n_old) FROM old_c) AS no_,
                   (SELECT SUM(n_new) FROM new_c) AS nn_
        )
        SELECT c_mktsegment,
               CAST(COALESCE(n_old, 0) AS BIGINT) AS n_old,
               CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new,
               ROUND(CAST(COALESCE(n_old, 0) AS DOUBLE)
                     * (CAST(nn_ AS DOUBLE) / no_), 6) AS expected_new,
               CASE WHEN COALESCE(n_old, 0) > 0 THEN
                   ROUND((CAST(COALESCE(n_new, 0) AS DOUBLE)
                          - CAST(COALESCE(n_old, 0) AS DOUBLE)
                            * (CAST(nn_ AS DOUBLE) / no_))
                         * (CAST(COALESCE(n_new, 0) AS DOUBLE)
                            - CAST(COALESCE(n_old, 0) AS DOUBLE)
                              * (CAST(nn_ AS DOUBLE) / no_))
                         / (CAST(COALESCE(n_old, 0) AS DOUBLE)
                            * (CAST(nn_ AS DOUBLE) / no_)),
                         6)
               END AS chi2_contrib
        FROM old_c FULL OUTER JOIN new_c USING (c_mktsegment), tot
        ORDER BY c_mktsegment
    """,
    "revenue_cube": """
        SELECT CASE WHEN GROUPING(r_name) = 1 THEN 'ALL'
                    ELSE r_name END AS region,
               CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL'
                    ELSE o_orderstatus END AS status,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                    AS DOUBLE) AS revenue,
               count(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY CUBE (r_name, o_orderstatus)
        ORDER BY region, status
    """,
    "dq_fk_orphans": """
        SELECT
          (SELECT count(*) FROM orders o
             WHERE o.o_custkey IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
          ) AS orders_no_customer,
          (SELECT count(*) FROM lineitem l
             WHERE l.l_orderkey IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
          ) AS lineitem_no_order,
          (SELECT count(*) FROM lineitem l
             WHERE l.l_partkey IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
          ) AS lineitem_no_part,
          (SELECT count(*) FROM events e
             WHERE e.user_id IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)
          ) AS events_no_user
    """,
    "dq_duplicate_keys": """
        SELECT
          (SELECT count(*) - count(DISTINCT c_custkey) FROM customer) AS customer_pk_dups,
          (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders) AS orders_pk_dups,
          (SELECT count(*) - count(DISTINCT p_partkey) FROM part) AS part_pk_dups,
          (SELECT count(*) - count(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem)
              AS lineitem_line_dups
    """,
    "dq_constraint_violations": """
        SELECT * FROM
          (SELECT
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_custkey,
             CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg_totalprice,
             CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT)
                 AS bad_status
           FROM orders),
          (SELECT
             CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpos_quantity,
             CAST(SUM(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS neg_extendedprice,
             CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS bad_discount
           FROM lineitem),
          (SELECT
             CAST(SUM(CASE WHEN event_type NOT IN ('view','click','purchase','signup','error')
                           THEN 1 ELSE 0 END) AS BIGINT) AS bad_event_type,
             CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_user_id
           FROM events)
    """,
    "order_total_reagg": """
        WITH recomputed AS (
            SELECT l_orderkey,
                   SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax), 2)
                            AS DECIMAL(18,2))) AS _recomputed
            FROM lineitem GROUP BY 1
        )
        SELECT count(*) AS n_orders,
               CAST(SUM(CASE WHEN _recomputed IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_orders_without_items,
               CAST(SUM(CASE WHEN abs(CAST(o_totalprice AS DECIMAL(18,2)) - _recomputed) <= 0.01
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_total_matches,
               CAST(SUM(CASE WHEN abs(CAST(o_totalprice AS DECIMAL(18,2)) - _recomputed) > 0.01
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_total_mismatches
        FROM orders LEFT JOIN recomputed ON o_orderkey = l_orderkey
    """,
    "dq_metrics": """
        WITH o AS (SELECT
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_custkey,
             CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg_totalprice,
             CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT)
                 AS bad_status
           FROM orders),
        li AS (SELECT
             CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpos_quantity,
             CAST(SUM(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS neg_extendedprice,
             CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS bad_discount
           FROM lineitem),
        ev AS (SELECT
             CAST(SUM(CASE WHEN event_type NOT IN ('view','click','purchase','signup','error')
                           THEN 1 ELSE 0 END) AS BIGINT) AS bad_event_type,
             CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_user_id
           FROM events)
        SELECT 'orders' AS table_name, 'null_custkey' AS rule, null_custkey AS n_violations FROM o
        UNION ALL SELECT 'orders', 'neg_totalprice', neg_totalprice FROM o
        UNION ALL SELECT 'orders', 'bad_status', bad_status FROM o
        UNION ALL SELECT 'lineitem', 'nonpos_quantity', nonpos_quantity FROM li
        UNION ALL SELECT 'lineitem', 'neg_extendedprice', neg_extendedprice FROM li
        UNION ALL SELECT 'lineitem', 'bad_discount', bad_discount FROM li
        UNION ALL SELECT 'events', 'bad_event_type', bad_event_type FROM ev
        UNION ALL SELECT 'events', 'null_user_id', null_user_id FROM ev
        UNION ALL SELECT 'orders', 'orders_no_customer',
          (SELECT count(*) FROM orders o
             WHERE o.o_custkey IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        UNION ALL SELECT 'lineitem', 'lineitem_no_order',
          (SELECT count(*) FROM lineitem l
             WHERE l.l_orderkey IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        UNION ALL SELECT 'lineitem', 'lineitem_no_part',
          (SELECT count(*) FROM lineitem l
             WHERE l.l_partkey IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
        UNION ALL SELECT 'events', 'events_no_user',
          (SELECT count(*) FROM events e
             WHERE e.user_id IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id))
        UNION ALL SELECT 'customer', 'customer_pk_dups',
          (SELECT count(*) - count(DISTINCT c_custkey) FROM customer)
        UNION ALL SELECT 'orders', 'orders_pk_dups',
          (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders)
        UNION ALL SELECT 'part', 'part_pk_dups',
          (SELECT count(*) - count(DISTINCT p_partkey) FROM part)
        UNION ALL SELECT 'lineitem', 'lineitem_line_dups',
          (SELECT count(*) - count(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem)
    """,
    "set_ops_actors": """
        WITH o AS (SELECT DISTINCT o_custkey AS actor_key FROM orders),
             e AS (SELECT DISTINCT user_id AS actor_key FROM events)
        SELECT
          (SELECT count(*) FROM o) AS n_order_customers,
          (SELECT count(*) FROM e) AS n_event_users,
          (SELECT count(*) FROM (SELECT actor_key FROM o UNION SELECT actor_key FROM e))
              AS n_union,
          (SELECT count(*) FROM (SELECT actor_key FROM o INTERSECT SELECT actor_key FROM e))
              AS n_intersect,
          (SELECT count(*) FROM (SELECT actor_key FROM o EXCEPT SELECT actor_key FROM e))
              AS n_only_orders
    """,
    "revenue_grouping_sets": """
        SELECT COALESCE(r_name, 'ALL') AS region,
               COALESCE(o_orderstatus, 'ALL') AS status,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
               count(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS ((r_name, o_orderstatus), (r_name), (o_orderstatus))
    """,
    "dedup_lineitem_latest": """
        WITH ranked AS (
            SELECT *,
                   row_number() OVER (
                       PARTITION BY l_orderkey, l_linenumber
                       ORDER BY l_partkey, l_suppkey, l_quantity, l_extendedprice,
                                l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate
                   ) AS _rn
            FROM lineitem
        )
        SELECT count(*) AS n_kept,
               (SELECT count(*) FROM lineitem) - count(*) AS n_dropped,
               CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty_kept,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE)
                   AS sum_extprice_kept
        FROM ranked WHERE _rn = 1
    """,
}


def customers_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot diff (`normalize.snapshot_diff`) exercised on a
    deterministically perturbed copy of `customer`: keys %97 deleted,
    %13 get acctbal+10 (update), %31 re-inserted under key+1e6 — so
    the correct change feed is ANALYTIC (each op's key set is a pure
    modular predicate) and the oracle derives it without running the
    diff: a wrong join side, fingerprint collision, or op
    misclassification breaks the hash. Output: per-op key counts and
    key ranges. The operator itself is the backfill/repair primitive
    for the bucketed silver layer (one equi-join per side; run
    per-bucket at 100 TB)."""
    from ecommerce_realtime_pipeline_spark.operators.normalize import snapshot_diff

    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    new = (
        cust.filter(k % 97 != 0)
        .withColumn(
            "c_acctbal",
            F.when(k % 13 == 0, F.col("c_acctbal") + 10).otherwise(
                F.col("c_acctbal")
            ),
        )
        .unionByName(
            cust.filter(k % 31 == 0).withColumn("c_custkey", k + 1_000_000)
        )
    )
    diff = snapshot_diff(cust, new, ["c_custkey"])
    return (
        diff.groupBy("op")
        .agg(
            F.count("*").alias("n_keys"),
            F.min("c_custkey").alias("min_key"),
            F.max("c_custkey").alias("max_key"),
        )
        .orderBy("op")
    )


def customers_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance end-to-end: the same
    deterministic perturbation as ``customers_snapshot_diff`` produces
    snapshot B; the per-segment (count, sum acctbal) aggregate is then
    refreshed from snapshot A's aggregate + the CDC feed ONLY
    (`normalize.incremental_agg` — |diff| rows touched, no rescan of
    B). The oracle aggregates snapshot B directly, so the hash-diff
    proves the retract/add algebra: a missed retraction, a
    double-counted update, or a float-ordering drift breaks it.
    DECIMAL contributions make incremental ≡ recompute bit-for-bit."""
    from ecommerce_realtime_pipeline_spark.operators.normalize import (
        incremental_agg,
        snapshot_diff,
    )

    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    new = (
        cust.filter(k % 97 != 0)
        .withColumn(
            "c_acctbal",
            F.when(k % 13 == 0, F.col("c_acctbal") + 10).otherwise(
                F.col("c_acctbal")
            ),
        )
        .unionByName(
            cust.filter(k % 31 == 0).withColumn("c_custkey", k + 1_000_000)
        )
    )
    diff = snapshot_diff(cust, new, ["c_custkey"])
    out = incremental_agg(
        cust, new, diff, ["c_custkey"], "c_mktsegment", "c_acctbal"
    )
    return out.select(
        "c_mktsegment",
        F.col("n_rows").alias("n_customers"),
        F.round(F.col("sum_val").cast("double"), 2).alias("total_acctbal"),
    ).orderBy("c_mktsegment")


ORACLES["customers_incremental_agg"] = """
    WITH newsnap AS (
        SELECT c_mktsegment,
               CASE WHEN c_custkey % 13 = 0 THEN c_acctbal + 10
                    ELSE c_acctbal END AS bal
        FROM customer WHERE c_custkey % 97 <> 0
        UNION ALL
        SELECT c_mktsegment, c_acctbal
        FROM customer WHERE c_custkey % 31 = 0
    )
    SELECT c_mktsegment,
           count(*) AS n_customers,
           CAST(ROUND(SUM(CAST(bal AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS total_acctbal
    FROM newsnap GROUP BY 1 ORDER BY 1
"""


ORACLES["customers_snapshot_diff"] = """
    SELECT 'delete' AS op, COUNT(*) AS n_keys,
           MIN(c_custkey) AS min_key, MAX(c_custkey) AS max_key
    FROM customer WHERE c_custkey % 97 = 0
    UNION ALL
    SELECT 'insert', COUNT(*),
           MIN(c_custkey + 1000000), MAX(c_custkey + 1000000)
    FROM customer WHERE c_custkey % 31 = 0
    UNION ALL
    SELECT 'update', COUNT(*), MIN(c_custkey), MAX(c_custkey)
    FROM customer WHERE c_custkey % 13 = 0 AND c_custkey % 97 <> 0
    ORDER BY op
"""

"""Graph analytics over relationship tables derived from the star
schema — here fixed-iteration PageRank, the influence/centrality
companion to the connected-components operators in ``dedup``.

Scale stance (100 TB): PageRank is the canonical iterative
edge-propagation workload. Each iteration is ONE equi-join of the
rank table (node-sized) against the edge list (edge-sized) + ONE
partial-agg shuffle on dst — never materializing anything bigger than
the edge list. A fixed iteration count keeps the whole computation a
finite expression chain (the property that lets a SQL oracle replicate
it CTE-for-CTE, exactly like ``kmeans_refine`` and the logistic-GD
trainer); convergence-driven stopping would add the driver-side probe
pattern of ``neardup_clusters``. At web scale you additionally
pre-partition edges by src so every iteration reuses one partitioning
(no re-shuffle of the static side) — here AQE handles the small case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark.session import materialize

#: decimal type for exact partition-order-independent contribution
#: sums (same exactness contract as label_centroids / logistic GD).
_DEC = "decimal(28,14)"


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    edge_partitions: int | None = None,
    dedup_edges: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list (for an
    undirected graph pass both directions).

    r_0(v) = 1/N;  r_{t+1}(v) = (1-d)/N + d · Σ_{u→v} r_t(u)/deg(u)

    Exactness: each contribution r_u/deg_u is ONE IEEE double divide
    (bit-identical across engines); contributions are cast to DECIMAL
    and summed exactly, so the per-iteration totals are independent of
    partitioning and hash-comparable to the DuckDB oracle. Dangling
    nodes cannot occur on a symmetrized edge list (every node has
    out-degree ≥ 1); the simplified update (no dangling-mass
    redistribution) is the documented contract.

    Output: (node, rank) for every node in the edge list, rank as the
    raw double after ``iters`` rounds.
    """
    # The edge list (and its out-degree) is STATIC across iterations —
    # fuse deg INTO the edge table, PRE-PARTITION IT BY src, and pin
    # both ONCE. Otherwise every round's contrib subtree re-evaluates
    # the edge lineage (here a basket self-join; 3 rounds ⇒ ~7
    # recomputations), re-joins deg, AND re-shuffles the edge-sized
    # side. The checkpointed frame carries hashpartitioning(_u), which
    # already satisfies the per-round join's required distribution —
    # so each iteration exchanges only the NODE-sized rank table, never
    # the edge table (pinned in test_plan_discipline: zero Exchange on
    # _u in the executed plan). At 100 TB this is the difference
    # between moving the graph every round and moving the ranks.
    #
    # The whole build is ONE edge-sized exchange (not a distinct +
    # groupBy-deg + join + repartition chain of ~4 edge shuffles):
    # hash-partition the raw pairs by _u once, then dedup and degree
    # WITHIN that partitioning — hashpartitioning(_u) satisfies
    # ClusteredDistribution for both the (_u,_v) dedup (partition keys
    # ⊆ grouping keys) and the per-_u count window, so neither adds an
    # exchange; the window computes deg with one sort instead of a
    # groupBy + self-join (an extra shuffle + SMJ). ``dedup_edges=True`` lets callers hand
    # over the RAW pair stream (e.g. the basket self-join) and fuse
    # their edge-dedup into this same exchange instead of paying a
    # separate distinct shuffle first.
    #
    # The build job runs with AQE off because under AQE the
    # checkpoint's physical root is an adaptive wrapper whose output
    # partitioning is NOT captured into the LogicalRDD — every
    # iteration would silently re-shuffle the edges (verified
    # empirically; with AQE off at creation the hashpartitioning(_u)
    # survives and downstream AQE-planned joins consume it). The
    # partition count is explicit — AQE can't coalesce a preserved
    # partitioning, so size it to the cluster (defaultParallelism
    # here, edge volume / target task size in production) — but never
    # below spark.sql.shuffle.partitions: the per-round join keeps a
    # child's partitioning only if it has at least that many
    # partitions, and would otherwise re-shuffle the edges every round.
    from pyspark.sql.window import Window

    e = edges.select(F.col(src).alias("_u"), F.col(dst).alias("_v"))
    spark = edges.sparkSession
    n_parts = edge_partitions or max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        part = e.repartition(n_parts, F.col("_u"))
        if dedup_edges:
            part = part.dropDuplicates(["_u", "_v"])
        ew = part.withColumn(
            "_deg", F.count("*").over(Window.partitionBy("_u"))
        ).transform(materialize)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
    nodes = ew.select(F.col("_u").alias("node")).distinct().transform(materialize)
    # 1-row scalar broadcast (node count), not a cartesian blowup
    n_row = nodes.agg(F.count("*").alias("_n"))
    ranks = nodes.crossJoin(F.broadcast(n_row)).select(
        "node", (F.lit(1.0) / F.col("_n")).alias("rank")
    )
    for _ in range(iters):
        contrib = ew.join(ranks, ew["_u"] == ranks["node"]).select(
            F.col("_v").alias("node"),
            (F.col("rank") / F.col("_deg")).cast(_DEC).alias("_c"),
        )
        sums = contrib.groupBy("node").agg(F.sum("_c").alias("_s"))
        ranks = (
            nodes.join(sums, "node", "left")
            .crossJoin(F.broadcast(n_row))
            .select(
                "node",
                (
                    (F.lit(1.0) - F.lit(damping)) / F.col("_n")
                    + F.lit(damping)
                    * F.coalesce(
                        F.col("_s").cast("double"), F.lit(0.0)
                    )
                ).alias("rank"),
            )
        )
    return ranks


def peel_dense_subgraph(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Densest-subgraph peeling (the Charikar greedy, fixed-round
    form): each round drops every node whose degree is ≤ the CURRENT
    subgraph's average degree, keeping the rest — the densest
    community survives the peels. Returns one row per round
    (round 0 = input graph): ``round, n_nodes, n_edges, density``
    (density = |E|/|V|, 4dp; the best round is the 2-approximation).

    ``edges`` is an UNDIRECTED edge list (u < v, deduped).

    Determinism contract: the keep test is ``deg · N > 2 · E`` —
    all-integer (never a float average), so both engines peel the
    identical node set every round; regular graphs (all degrees
    equal) peel to empty, later rounds report 0/0/NULL.

    Scale: each round is one degree shuffle + two edge-sized
    semi-joins, with the surviving edge list localCheckpointed so
    round r+1 reads a materialization, not r stacked plans (the
    PageRank pattern). The 1-row (N, E) stats broadcast into the keep
    filter. Rounds are fixed ⇒ the whole computation is a finite
    expression chain a SQL oracle replays CTE-for-CTE."""
    cur = edges.select("u", "v").transform(materialize)
    out_rows = []
    spark = edges.sparkSession
    for r in range(rounds + 1):
        deg = (
            cur.select(F.col("u").alias("n"))
            .unionAll(cur.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count("*").alias("d"))
            .transform(materialize)
        )
        row = deg.agg(
            F.count("*").alias("nn"), (F.sum("d") / 2).cast("long").alias("ne")
        ).collect()[0]
        n_nodes, n_edges = (row["nn"] or 0), (row["ne"] or 0)
        out_rows.append((r, n_nodes, n_edges))
        if r == rounds:
            break
        # keep nodes strictly above average degree: d·N > 2·E (exact)
        keep = deg.filter(
            F.col("d") * F.lit(n_nodes) > F.lit(2 * n_edges)
        ).select("n")
        cur = (
            cur.join(keep.withColumnRenamed("n", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("n", "v"), "v", "left_semi")
            .select("u", "v")
            .transform(materialize)
        )
    # density computed as an engine expression (F.round = HALF_UP,
    # matching the oracle's ROUND) — never Python round (HALF_EVEN)
    return spark.createDataFrame(
        out_rows, "round int, n_nodes bigint, n_edges bigint"
    ).withColumn(
        "density",
        F.when(
            F.col("n_nodes") > 0,
            F.round(F.col("n_edges") / F.col("n_nodes"), 4),
        ),
    )

"""Co-purchase graph queries of the KPI family: parts are linked when
they share an order basket, then ranked (PageRank), counted (triangles)
and peeled to their densest community, through ``operators/graph.py``.

Each query's DuckDB oracle, its ``ORACLES`` entry right after it,
replays the algorithm as CTEs (``_dense_peel_sql`` writes one block per
peel round) with exact integer or DECIMAL arithmetic, so both engines
agree value for value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark.catalog import load_table

#: query name -> DuckDB oracle SQL, one entry per query of this module
ORACLES: dict[str, str] = {}


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


# parts_copurchase_pagerank: the 3 propagation rounds replayed
# CTE-for-CTE; contributions are one double divide each, summed in
# DECIMAL(28,14) so every intermediate rank is bit-identical.
ORACLES["parts_copurchase_pagerank"] = """
        WITH items AS (
            SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        ),
        edges AS (
            SELECT DISTINCT a.pk AS u, b.pk AS v
            FROM items a JOIN items b ON a.ok = b.ok AND a.pk <> b.pk
        ),
        deg AS (SELECT u, count(*) AS deg FROM edges GROUP BY 1),
        nn AS (SELECT count(*) AS n FROM deg),
        r0 AS (
            SELECT u AS node, CAST(1.0 AS DOUBLE) / n AS rank FROM deg, nn
        ),
        c1 AS (
            SELECT e.v AS node,
                   CAST(r.rank / d.deg AS DECIMAL(28,14)) AS c
            FROM edges e JOIN deg d ON e.u = d.u JOIN r0 r ON e.u = r.node
        ),
        s1 AS (SELECT node, SUM(c) AS s FROM c1 GROUP BY 1),
        r1 AS (
            SELECT dg.u AS node,
                   (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
                   + CAST(0.85 AS DOUBLE)
                     * COALESCE(CAST(s1.s AS DOUBLE), CAST(0.0 AS DOUBLE))
                       AS rank
            FROM deg dg LEFT JOIN s1 ON dg.u = s1.node, nn
        ),
        c2 AS (
            SELECT e.v AS node,
                   CAST(r.rank / d.deg AS DECIMAL(28,14)) AS c
            FROM edges e JOIN deg d ON e.u = d.u JOIN r1 r ON e.u = r.node
        ),
        s2 AS (SELECT node, SUM(c) AS s FROM c2 GROUP BY 1),
        r2 AS (
            SELECT dg.u AS node,
                   (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
                   + CAST(0.85 AS DOUBLE)
                     * COALESCE(CAST(s2.s AS DOUBLE), CAST(0.0 AS DOUBLE))
                       AS rank
            FROM deg dg LEFT JOIN s2 ON dg.u = s2.node, nn
        ),
        c3 AS (
            SELECT e.v AS node,
                   CAST(r.rank / d.deg AS DECIMAL(28,14)) AS c
            FROM edges e JOIN deg d ON e.u = d.u JOIN r2 r ON e.u = r.node
        ),
        s3 AS (SELECT node, SUM(c) AS s FROM c3 GROUP BY 1),
        r3 AS (
            SELECT dg.u AS node,
                   (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
                   + CAST(0.85 AS DOUBLE)
                     * COALESCE(CAST(s3.s AS DOUBLE), CAST(0.0 AS DOUBLE))
                       AS rank
            FROM deg dg LEFT JOIN s3 ON dg.u = s3.node, nn
        )
        SELECT node AS part_key, ROUND(rank, 8) AS rank
        FROM r3
        ORDER BY ROUND(rank, 8) DESC, node
        LIMIT 20
    """


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


ORACLES["parts_copurchase_triangles"] = """
    WITH und AS (
        SELECT a.pk AS u, b.pk AS v
        FROM (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem) a
        JOIN (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem) b
          ON a.ok = b.ok
        WHERE a.pk < b.pk
        GROUP BY 1, 2
        HAVING count(*) >= 2
    ),
    deg AS (
        SELECT n, COUNT(*) AS deg FROM (
            SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und
        ) GROUP BY 1
    ),
    tri AS (
        SELECT COUNT(*) AS _tri
        FROM und e1
        JOIN und e2 ON e1.v = e2.u
        JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
           (SELECT COUNT(*) FROM und) AS n_edges,
           _tri AS n_triangles,
           CASE WHEN (SELECT SUM(deg * (deg - 1)) / 2 FROM deg) > 0
                THEN ROUND(3.0 * _tri
                           / (SELECT SUM(deg * (deg - 1)) / 2 FROM deg), 6)
                ELSE 0.0 END AS global_clustering
    FROM tri
"""


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


def _dense_peel_sql(rounds: int = 4) -> str:
    """CTE replay of `graph.peel_dense_subgraph`: per round r, degree
    table d{r} → integer stats s{r} → survivor set k{r} (d·N > 2E,
    all-integer) → filtered edges e{r+1}."""
    parts = [
        """WITH items AS (
            SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        ),
        e0 AS (
            SELECT DISTINCT a.pk AS u, b.pk AS v
            FROM items a JOIN items b ON a.ok = b.ok
            WHERE a.pk < b.pk
        )"""
    ]
    for r in range(rounds + 1):
        parts.append(f"""d{r} AS (
            SELECT n, COUNT(*) AS d FROM (
                SELECT u AS n FROM e{r} UNION ALL SELECT v AS n FROM e{r}
            ) GROUP BY n
        ),
        s{r} AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS nn,
                   COALESCE(CAST(SUM(d) / 2 AS BIGINT), 0) AS ne
            FROM d{r}
        )""")
        if r < rounds:
            parts.append(f"""k{r} AS (
            SELECT n FROM d{r}, s{r} WHERE d * nn > 2 * ne
        ),
        e{r + 1} AS (
            SELECT u, v FROM e{r}
            WHERE u IN (SELECT n FROM k{r}) AND v IN (SELECT n FROM k{r})
        )""")
    selects = [
        f"""SELECT {r} AS round, nn AS n_nodes, ne AS n_edges,
               CASE WHEN nn > 0 THEN ROUND(ne * 1.0 / nn, 4) END AS density
        FROM s{r}"""
        for r in range(rounds + 1)
    ]
    return (
        ",\n".join(parts)
        + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY round"
    )


ORACLES["parts_dense_community"] = _dense_peel_sql()

"""DuckDB oracle SQL — one ANSI-SQL equivalent per engine query.

The driver runs each Spark query AND its oracle at sf0.01 and compares
row-count + schema + order-insensitive value hash. Rules used here:

- money math in DECIMAL(18,2) before summing (exact, order-independent)
  then ROUND(...,2) and CAST AS DOUBLE — identical to the Spark side;
- time buckets emitted via strftime as strings;
- integer-typed sums cast to BIGINT (DuckDB SUM(int) is HUGEINT);
- every computed column aliased identically to the Spark DataFrame.
"""

from __future__ import annotations

ORACLES: dict[str, str] = {
    "revenue_trend_daily": """
        SELECT strftime(date_trunc('day', o_orderdate), '%Y-%m-%d') AS order_day,
               count(*) AS n_orders,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
        FROM orders
        GROUP BY 1
    """,
    "orders_per_minute": """
        SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS minute,
               count(*) AS n_events
        FROM events
        GROUP BY 1
    """,
    "revenue_trend_hourly_by_type": """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
               event_type,
               count(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    # events_value_quantile_sketch: histogram-sketch replica — same
    # grid (floor((v-mn)/((mx-mn)/64)), clamp 63), integer cumulative
    # counts, identical interpolation expression. Estimates match
    # bit-for-bit because every float op is the same IEEE sequence.
    "events_value_quantile_sketch": """
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
    """,
    # events_cms_user_counts: Count-Min replica — salted-md5 counter
    # columns, integer count/min folds. Exact parity by construction.
    "events_cms_user_counts": """
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
    """,
    # events_hll_users: full HLL replica — md5 registers, exact integer
    # register fold (DECIMAL sum of 2^(61-M_j)), one double division,
    # textbook linear-counting rule. Bit-identical estimate by design.
    "events_hll_users": """
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
    """,
    # events_by_segment_salted: the oracle is the PLAIN join — salting
    # is a physical rewrite and must not change a single row.
    "events_by_segment_salted": """
        SELECT c_mktsegment,
               count(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1
        ORDER BY 1
    """,
    # orders_exact_quantiles_twopass: the k-th order statistic
    # (k = ceil(q*n)) via explicit ORDER BY/OFFSET — the definitionally
    # exact form the two-pass algorithm must reproduce.
    "orders_exact_quantiles_twopass": """
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
    """,
    # events_heavy_hitters_mg: plain top-5 over the planted-skew
    # corpus — result invariance despite MG eviction-order
    # nondeterminism (certificate pinned in tests).
    "events_heavy_hitters_mg": """
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
    """,
    # events_type_transitions: identical lag window, (ts, event_id)
    # tie-broken on both engines (both see µs timestamps).
    "events_type_transitions": """
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
    """,
    # events_volume_anomalies: integer moments are exact sums; the
    # mean/var/z chain is the same fixed IEEE op sequence as Spark's.
    "events_volume_anomalies": """
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
    """,
    # events_zorder_roundtrip: the oracle aggregates the RAW table —
    # the z-order rewrite is a physical permutation and must preserve
    # every row exactly.
    "events_zorder_roundtrip": """
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
    """,
    # parts_copurchase_pagerank: the 3 propagation rounds replayed
    # CTE-for-CTE; contributions are one double divide each, summed in
    # DECIMAL(28,14) so every intermediate rank is bit-identical.
    "parts_copurchase_pagerank": """
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
    """,
    # events_bloom_semijoin: the oracle is the PLAIN semi-join — Bloom
    # pruning is a physical prefilter with no false negatives, so the
    # bloom→exact pipeline must reproduce it row-for-row.
    "events_bloom_semijoin": """
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
    """,
    # events_sliding_window: every ts is covered by exactly the two
    # 10-min windows starting at trunc5(ts) and trunc5(ts)-5min
    # (trunc5(ts) > ts-5min, so both starts are > ts-10min), which is
    # precisely Spark's window(ts,'10 minutes','5 minutes') expansion.
    "events_sliding_window": """
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
    """,
    "top_products_by_revenue": """
        SELECT p_partkey, p_name,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                               * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue,
               CAST(SUM(l_quantity) AS DOUBLE) AS total_qty,
               count(*) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY 1, 2
        ORDER BY revenue DESC, p_partkey ASC
        LIMIT 10
    """,
    "top_customers_by_spend": """
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
    """,
    "pricing_summary": """
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
    """,
    "revenue_by_nation": """
        SELECT r_name, n_name,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
               count(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1, 2
    """,
    "revenue_rollup_region_nation": """
        SELECT COALESCE(r_name, 'ALL') AS region,
               COALESCE(n_name, 'ALL') AS nation,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
               count(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
    """,
    "order_status_distribution": """
        SELECT o_orderstatus,
               count(*) AS n_orders,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
               CAST(ROUND(MIN(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS min_price,
               CAST(ROUND(MAX(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS max_price
        FROM orders
        GROUP BY 1
    """,
    "customer_history": """
        SELECT o_custkey AS custkey,
               count(*) AS n_orders,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS lifetime_value,
               strftime(MIN(o_orderdate), '%Y-%m-%d') AS first_order,
               strftime(MAX(o_orderdate), '%Y-%m-%d') AS last_order
        FROM orders
        GROUP BY 1
    """,
    "funnel_stage_counts": """
        SELECT event_type,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY 1
    """,
    "funnel_conversion": """
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
    """,
    # session_window twin: island detection via lag-gap flag + running
    # sum. Spark merges an event at EXACTLY prev+gap (new session only
    # when the gap is strictly exceeded — probed, pinned in tests), so
    # the flag uses `>`. Session end = last event + gap (Spark's
    # session_window.end definition). Equal-ts ties can't flip the
    # flag (gap 0 is never > 30min), so lag's tie order is immaterial.
    "sessionization_session_window": """
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
    """,
    "sessionization": """
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
    """,
    "jsonb_adhoc": """
        SELECT TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k,
               count(*) AS n
        FROM events
        WHERE TRY_CAST(json_extract_string(props, '$.k') AS INT) >= 50
        GROUP BY 1
    """,
    "throughput_per_topic": """
        SELECT event_type,
               count(*) AS n_events,
               ROUND(count(*) / (SELECT (max(epoch_us(ts)) - min(epoch_us(ts))) / 1000000.0 FROM events), 6) AS events_per_sec
        FROM events
        GROUP BY 1
    """,
}

ORACLES.update(
    {
        "top_products_per_nation": """
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
        """,

        "customer_running_totals": """
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
        """,
        "order_value_percentiles": """
            SELECT o_orderstatus AS status,
                   count(*) AS n_orders,
                   ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
                   ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
                   ROUND(quantile_cont(o_totalprice, 0.99), 4) AS p99
            FROM orders
            GROUP BY 1
        """,
    }
)

ORACLES.update(
    {
        # market_basket_pairs: same order of operations — distinct
        # (order, part), within-order pair counts, top-20, enrich.
        "market_basket_pairs": """
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
        """,
        # cohort_retention: ISO Monday week truncation on both engines.
        "cohort_retention": """
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
        """,
        # repurchase_intervals: exact integer day gaps; one divide.
        "repurchase_intervals": """
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
        """,
    }
)

# The heap scale-path variant produces the identical result by
# construction (candidates cover the true top-k) -> same oracle.
ORACLES["top_products_per_nation_heap"] = ORACLES["top_products_per_nation"]

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


def _markov_attribution_sql(steps: int = 6) -> str:
    """CTE replay of `kpi.events_markov_attribution`: 8dp DECIMAL
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


# market_basket_rules: items are part BRANDS (part-level
# triples are support-1 at sf0.1 — no fixed floor can gate them) and
# the support floor is RELATIVE: greatest(2, ceil(α·n_orders)) with
# α = kpi.BASKET_RULES_MIN_SUPPORT, mirrored as a literal here. The
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

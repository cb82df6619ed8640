"""Differential tests: every queries() entry with an oracle must match
DuckDB exactly (the driver's t2 correctness gate, run here at sf0.001
for speed; the driver runs sf0.01)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.oracle_util import assert_matches_oracle, duck_connection

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(ORACLES.keys()))
def test_oracle_match(name, spark, sf_dir, duck):
    assert name in QUERIES, f"oracle {name} has no queries() entry"
    df = QUERIES[name](spark, sf_dir)
    assert_matches_oracle(df, duck, ORACLES[name], name)


def test_all_queries_run(spark, sf_dir):
    """Every queries() entry (oracle or not) runs and has a stable schema."""
    for name, fn in QUERIES.items():
        df = fn(spark, sf_dir)
        assert df.columns, name
        df.limit(5).collect()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_session_window_equals_gap_lag_sessionization(spark, sf_dir):
    """The built-in session_window batch query and the gap-lag
    implementation must agree exactly: same per-user session count and
    same total events (they share strict-> boundary semantics)."""
    from pyspark.sql import functions as F

    from ecommerce_realtime_pipeline_spark.plans.kpi import (
        sessionization,
        sessionization_session_window,
    )

    lag_form = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in sessionization(spark, sf_dir).collect()
    }
    sw_form = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in sessionization_session_window(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"), F.sum("n_events").alias("n_events"))
        .collect()
    }
    assert lag_form == sw_form


def test_session_window_boundary_merges_at_exact_gap(spark):
    """Pin Spark's boundary rule the oracle depends on: an event at
    EXACTLY prev + gap merges into the running session (new session
    only when the gap is strictly exceeded)."""
    import datetime as dt

    from pyspark.sql import functions as F

    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (1, base),
            (1, base + dt.timedelta(minutes=30)),  # exactly gap → merge
            (2, base),
            (2, base + dt.timedelta(minutes=30, microseconds=1)),  # > gap → split
        ],
        "user_id long, ts timestamp",
    )
    out = (
        df.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n"))
        .groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"))
    )
    got = {r["user_id"]: r["n_sessions"] for r in out.collect()}
    assert got == {1: 1, 2: 2}


def test_set_ops_operator_form_matches_tagged_plan(spark, sf_dir):
    """R23: the literal intersect/subtract/union operator composition
    must agree with set_ops_actors' single-scan tagged plan (the query
    ships the efficient plan; the operators stay correct)."""
    from pyspark.sql import functions as F

    from ecommerce_realtime_pipeline_spark.catalog import load_table
    from ecommerce_realtime_pipeline_spark.plans.dq import set_ops_actors

    o_keys = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("actor_key"))
        .distinct()
    )
    e_keys = (
        load_table(spark, sf_dir, "events")
        .select(F.col("user_id").alias("actor_key"))
        .distinct()
    )
    row = set_ops_actors(spark, sf_dir).collect()[0]
    assert row["n_order_customers"] == o_keys.count()
    assert row["n_event_users"] == e_keys.count()
    assert row["n_union"] == o_keys.unionByName(e_keys).distinct().count()
    assert row["n_intersect"] == o_keys.intersect(e_keys).count()
    assert row["n_only_orders"] == o_keys.subtract(e_keys).count()


def test_degenerate_divides_match_oracle(spark, tmp_path):
    """Engine-identical divide-by-zero conventions on degenerate
    corpora (Spark NULL vs DuckDB inf/NaN on the bare divide — both
    sides now guard to 0.0): a wedge-free co-purchase graph must
    report global_clustering 0.0, and a purchase-free event log must
    report removal_effect 0.0 for every channel — verified
    side-by-side with the SAME oracle SQL the driver runs."""
    import datetime

    import duckdb

    sf = str(tmp_path)
    # two orders sharing the same 2-part basket: one support-2 edge,
    # both endpoints degree 1 => zero wedges
    spark.createDataFrame(
        [(1, 101), (1, 102), (2, 101), (2, 102)],
        "l_orderkey long, l_partkey long",
    ).coalesce(1).write.parquet(f"{sf}/lineitem.parquet")
    # journeys with no 'purchase' events => conv_full = 0
    t0 = datetime.datetime(2024, 1, 1)
    ev = [
        (i, t0 + datetime.timedelta(minutes=i), i % 3, typ, 1.0, "{}")
        for i, typ in enumerate(["view", "click", "signup", "view", "error", "click"])
    ]
    spark.createDataFrame(
        ev, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).coalesce(1).write.parquet(f"{sf}/events.parquet")

    con = duckdb.connect()
    for t in ("lineitem", "events"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{sf}/{t}.parquet/*.parquet')"
        )
    tri = QUERIES["parts_copurchase_triangles"](spark, sf)
    assert_matches_oracle(
        tri, con, ORACLES["parts_copurchase_triangles"], "triangles-degenerate"
    )
    row = tri.collect()[0]
    assert row["global_clustering"] == 0.0 and row["n_edges"] == 1

    mk = QUERIES["events_markov_attribution"](spark, sf)
    assert_matches_oracle(
        mk, con, ORACLES["events_markov_attribution"], "markov-degenerate"
    )
    rows = mk.collect()
    assert len(rows) == 4
    assert all(r["removal_effect"] == 0.0 and r["conv_full"] == 0.0 for r in rows)
    con.close()


def test_null_fk_is_not_an_orphan(spark, tmp_path):
    """SQL FK semantics on both engines: a NULL reference is not
    checked (it is counted as ``null_custkey``/``null_user_id``), only
    a non-NULL key without a parent is an orphan. ``dq_fk_orphans``,
    ``dq_metrics`` and their oracles agree on a corpus with a NULL
    ``o_custkey``, a NULL ``user_id`` and one real orphan order."""
    import datetime

    import duckdb

    sf = str(tmp_path)
    tables = {
        "customer": ([(1,), (2,)], "c_custkey long"),
        "part": ([(101,)], "p_partkey long"),
        "orders": (
            [(10, 1, 5.0, "O"), (11, None, 3.0, "F"), (12, 99, 1.0, "P")],
            "o_orderkey long, o_custkey long, o_totalprice double, o_orderstatus string",
        ),
        "lineitem": (
            [(10, 1, 101, 1.0, 5.0, 0.0)],
            "l_orderkey long, l_linenumber int, l_partkey long, l_quantity double, "
            "l_extendedprice double, l_discount double",
        ),
        "events": (
            [
                (i, datetime.datetime(2024, 1, 1, 0, i), uid, "view")
                for i, uid in enumerate([1, None, 2])
            ],
            "event_id long, ts timestamp, user_id long, event_type string",
        ),
    }
    con = duckdb.connect()
    for t, (rows, schema) in tables.items():
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{sf}/{t}.parquet"
        )
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{sf}/{t}.parquet/*.parquet')"
        )

    fk = QUERIES["dq_fk_orphans"](spark, sf)
    assert_matches_oracle(fk, con, ORACLES["dq_fk_orphans"], "fk-orphans-null-fk")
    assert fk.collect()[0].asDict() == {
        "orders_no_customer": 1,
        "lineitem_no_order": 0,
        "lineitem_no_part": 0,
        "events_no_user": 0,
    }
    dm = QUERIES["dq_metrics"](spark, sf)
    assert_matches_oracle(dm, con, ORACLES["dq_metrics"], "dq-metrics-null-fk")
    counts = {r["rule"]: r["n_violations"] for r in dm.collect()}
    assert counts["orders_no_customer"] == 1 and counts["events_no_user"] == 0
    assert counts["null_custkey"] == 1 and counts["null_user_id"] == 1
    con.close()

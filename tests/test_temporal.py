"""Unit pins for the temporal join operators: as-of tie-breaks /
strictness / tolerance, and range-join boundary + bucket-crossing
semantics (the cases an equi-join rewrite most easily gets wrong)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark.operators import temporal as T


def _ts(s):
    return datetime.fromisoformat(s)


def _frames(spark):
    left = spark.createDataFrame(
        [
            (1, "u1", _ts("2024-01-01T10:00:00")),
            (2, "u1", _ts("2024-01-01T12:00:00")),
            (3, "u2", _ts("2024-01-01T10:00:00")),  # no right rows at all
        ],
        "lid int, user_id string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (10, "u1", _ts("2024-01-01T09:00:00")),
            (11, "u1", _ts("2024-01-01T10:00:00")),  # exact tie with lid=1
            (12, "u1", _ts("2024-01-01T10:00:00")),  # same ts — higher id wins
            (13, "u1", _ts("2024-01-01T11:59:00")),
        ],
        "rid int, user_id string, ts timestamp",
    )
    return left, right


def test_asof_inclusive_picks_latest_and_breaks_ties_high(spark):
    left, right = _frames(spark)
    out = {
        r["lid"]: r["r_rid"]
        for r in T.asof_join(
            left, right, on="user_id", right_id="rid", prefix="r_"
        ).collect()
    }
    # lid=1 at 10:00 sees rows 10,11,12 (inclusive); tie → highest rid
    assert out[1] == 12
    assert out[2] == 13
    assert out[3] is None


def test_asof_strict_excludes_equal_timestamps(spark):
    left, right = _frames(spark)
    out = {
        r["lid"]: r["r_rid"]
        for r in T.asof_join(
            left,
            right,
            on="user_id",
            right_id="rid",
            allow_exact_matches=False,
            prefix="r_",
        ).collect()
    }
    assert out[1] == 10  # 10:00 rows excluded under strict <
    assert out[2] == 13


def test_asof_tolerance_nulls_stale_matches(spark):
    left, right = _frames(spark)
    out = {
        r["lid"]: r["r_rid"]
        for r in T.asof_join(
            left,
            right,
            on="user_id",
            right_id="rid",
            tolerance_sec=30,
            prefix="r_",
        ).collect()
    }
    assert out[1] == 12  # gap 0 ≤ 30s
    assert out[2] is None  # best match is 60s old > 30s tolerance
    assert out[3] is None


def test_asof_carries_all_left_rows_and_columns(spark):
    left, right = _frames(spark)
    out = T.asof_join(left, right, on="user_id", right_id="rid", prefix="r_")
    assert out.count() == left.count()
    assert set(out.columns) == {"lid", "user_id", "ts", "r_rid", "r_user_id", "r_ts"}


def test_range_join_boundaries_and_bucket_crossing(spark):
    # window [ts-3600, ts): lower inclusive, upper exclusive; matches
    # must be found across bucket boundaries (width = 3600s).
    left = spark.createDataFrame(
        [(1, "u1", _ts("2024-01-01T10:30:00"))],
        "lid int, user_id string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (20, "u1", _ts("2024-01-01T09:29:59")),  # 1s too old → out
            (21, "u1", _ts("2024-01-01T09:30:00")),  # exactly -3600 → in
            (22, "u1", _ts("2024-01-01T09:59:59")),  # previous bucket → in
            (23, "u1", _ts("2024-01-01T10:29:59")),  # same bucket → in
            (24, "u1", _ts("2024-01-01T10:30:00")),  # equal ts (upper, excl) → out
            (25, "u2", _ts("2024-01-01T10:00:00")),  # other key → out
        ],
        "rid int, user_id string, ts timestamp",
    )
    got = sorted(
        r["rid"]
        for r in T.range_join(
            left, right, on="user_id", lower_sec=-3600, upper_sec=0
        ).collect()
    )
    assert got == [21, 22, 23]


def test_range_join_forward_window(spark):
    # forward window [ts, ts+60): picks events in the following minute
    left = spark.createDataFrame(
        [(1, "u1", _ts("2024-01-01T10:00:00"))],
        "lid int, user_id string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (30, "u1", _ts("2024-01-01T10:00:00")),  # inclusive lower → in
            (31, "u1", _ts("2024-01-01T10:00:59")),  # in
            (32, "u1", _ts("2024-01-01T10:01:00")),  # exclusive upper → out
            (33, "u1", _ts("2024-01-01T09:59:59")),  # before → out
        ],
        "rid int, user_id string, ts timestamp",
    )
    got = sorted(
        r["rid"]
        for r in T.range_join(
            left, right, on="user_id", lower_sec=0, upper_sec=60
        ).collect()
    )
    assert got == [30, 31]


def test_range_join_no_nested_loop_plan(spark):
    """The rewrite's whole point: the physical plan must be an
    equi-join (hash/sort-merge on (bucket, key)), never a
    BroadcastNestedLoopJoin / CartesianProduct."""
    left, right = _frames(spark)
    df = T.range_join(
        left.withColumnRenamed("lid", "id"),
        right.withColumnRenamed("rid", "id"),
        on="user_id",
        lower_sec=-3600,
        upper_sec=0,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_salted_join_equals_plain_join_and_spreads_hot_key(spark):
    from pyspark.sql import functions as F

    # one pathologically hot key (90% of rows) + a long tail
    big = spark.createDataFrame(
        [(i, "hot" if i % 10 else f"k{i}") for i in range(1000)],
        "row_id int, key string",
    )
    small = spark.createDataFrame(
        [("hot", 1.0)] + [(f"k{i * 10}", float(i)) for i in range(100)],
        "key string, w double",
    )
    salted = T.salted_join(big, small, on="key", salt_from="row_id", n_salts=8)
    plain = big.join(small, "key")
    assert salted.count() == plain.count()
    assert (
        salted.agg(F.sum("w")).collect()[0][0] == plain.agg(F.sum("w")).collect()[0][0]
    )
    # the hot key's rows now carry all 8 salt groups — the skew is split
    n_groups = (
        big.withColumn("_salt", F.pmod(F.xxhash64("row_id"), F.lit(8)))
        .filter(F.col("key") == "hot")
        .select("_salt")
        .distinct()
        .count()
    )
    assert n_groups == 8


def test_asof_forward_basic_and_ties(spark):
    """Forward as-of: earliest right row at-or-after, lowest-right-id
    tie-break, NULL when nothing follows, strict mode excludes the
    boundary."""
    from pyspark.sql import functions as F

    from ecommerce_realtime_pipeline_spark.operators import temporal as T

    left = spark.createDataFrame(
        [("u1", 100, "l1"), ("u1", 250, "l2"), ("u2", 10, "l3")],
        "k string, t long, lid string",
    ).select("k", F.timestamp_seconds("t").alias("ts"), "lid")
    right = spark.createDataFrame(
        [("u1", 100, 7), ("u1", 100, 3), ("u1", 200, 9)],
        "k string, t long, rid int",
    ).select("k", F.timestamp_seconds("t").alias("ts"), "rid")
    out = {
        r["lid"]: r["r_rid"]
        for r in T.asof_join(
            left, right, on="k", right_id="rid", direction="forward"
        ).collect()
    }
    # boundary tie at t=100 → lowest rid; nothing after 250; u2 empty
    assert out == {"l1": 3, "l2": None, "l3": None}
    strict = {
        r["lid"]: r["r_rid"]
        for r in T.asof_join(
            left, right, on="k", right_id="rid",
            direction="forward", allow_exact_matches=False,
        ).collect()
    }
    assert strict["l1"] == 9  # boundary excluded → next at 200
    tol = {
        r["lid"]: r["r_rid"]
        for r in T.asof_join(
            left, right, on="k", right_id="rid",
            direction="forward", allow_exact_matches=False,
            tolerance_sec=50,
        ).collect()
    }
    assert tol["l1"] is None  # 200 is 100s after 100 > 50s tolerance


def test_markov_attribution_removal_effects_analytic(spark, tmp_path):
    """Hand-built journeys with analytically known removal effects:
    view→click→purchase (×2) and signup→error (×1). Every conversion
    rides view and click (removal effect 1.0 for both); signup/error
    never touch a converting path (effect 0.0)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from ecommerce_realtime_pipeline_spark.plans import mining

    t0 = dt.datetime(2025, 1, 1)
    rows = []
    eid = 0
    for uid, path in [(1, ["view", "click", "purchase"]),
                      (2, ["view", "click", "purchase"]),
                      (3, ["signup", "error"])]:
        for i, et in enumerate(path):
            eid += 1
            rows.append((eid, t0 + dt.timedelta(minutes=i), uid, et, 1.0, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.write.parquet(str(tmp_path / "events.parquet"))
    out = {
        r["channel"]: r
        for r in mining.events_markov_attribution(spark, str(tmp_path)).collect()
    }
    assert set(out) == {"click", "error", "signup", "view"}
    assert abs(out["click"]["conv_full"] - 2 / 3) < 1e-6
    assert out["click"]["removal_effect"] == 1.0
    assert out["view"]["removal_effect"] == 1.0
    assert out["error"]["removal_effect"] == 0.0
    assert out["signup"]["removal_effect"] == 0.0


def test_key_skew_report_hand_computed(spark, tmp_path):
    """Keys with loads [1,1,1,5]: T = 1+2+3+20 = 26, Gini =
    2·26/(4·8) − 5/4 = 0.375; p50 = 1 (k=2), p99 = 5 (k=4),
    top share 5/8."""
    import datetime as dt

    from ecommerce_realtime_pipeline_spark.plans import kpi

    t0 = dt.datetime(2025, 1, 1)
    rows, eid = [], 0
    for uid, n in [(1, 1), (2, 1), (3, 1), (4, 5)]:
        for i in range(n):
            eid += 1
            rows.append((eid, t0 + dt.timedelta(minutes=eid), uid, "view", 1.0, "{}"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    r = kpi.events_key_skew_report(spark, str(tmp_path)).collect()[0]
    assert (r["n_keys"], r["n_rows"]) == (4, 8)
    assert (r["p50_rows_per_key"], r["p99_rows_per_key"]) == (1, 5)
    assert r["max_rows_per_key"] == 5
    assert r["top_key_share"] == 0.625
    assert r["gini"] == 0.375

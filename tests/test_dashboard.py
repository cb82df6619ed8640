"""Dashboard render layer over the gold marts: the JSON feed and the
text report must expose exactly the pipeline's mart rows (no silver or
bronze reads), tolerate missing panels, and keep Decimal revenue exact
in the JSON form."""

from __future__ import annotations

import json

from ecommerce_realtime_pipeline_spark import dashboard as D
from ecommerce_realtime_pipeline_spark.plans import fixtures as FX


def test_dashboard_serves_pipeline_marts(spark, tmp_path):
    from ecommerce_realtime_pipeline_spark.pipeline import run_pipeline

    work = str(tmp_path / "p")
    with FX.pinned_conf(spark, FX.STATE_PARTITIONS):
        summary = run_pipeline(spark, work)
    gold = f"{work}/gold"

    marts = D.read_marts(spark, gold)
    # every declared panel present, row counts agree with the pipeline
    assert set(marts) == set(D.MART_NAMES)
    for name, rows in marts.items():
        assert len(rows) == summary["marts"][name]
    # each panel's rows come back in display order, with no sort on read
    for name, col in (
        ("dq_gate", "table_name"),
        ("revenue_by_status", "status"),
        ("orders_per_minute", "minute"),
        ("event_type_counts", "event_type"),
    ):
        keys = [r[col] for r in marts[name]]
        assert keys == sorted(keys), name
    assert len(marts["dq_gate"]) == 5
    top = [
        (-r["total_quantity"], r["product_id"])
        for r in marts["top_products_by_quantity"]
    ]
    assert top == sorted(top)

    # JSON feed round-trips and keeps Decimal revenue as exact strings
    doc = json.loads(D.marts_json(spark, gold))
    assert set(doc) == set(D.MART_NAMES)
    rev = {r["status"]: r["revenue"] for r in doc["revenue_by_status"]}
    assert all(isinstance(v, str) and "." in v for v in rev.values())

    # text report mentions every panel and its header columns
    text = D.render_text(spark, gold)
    for name in D.MART_NAMES:
        assert name in text
    assert "n_quarantined" in text  # dq_gate header rendered


def test_dashboard_tolerates_missing_panels(spark, tmp_path):
    gold = str(tmp_path / "gold")  # nothing materialized yet
    assert D.read_marts(spark, gold) == {}
    assert json.loads(D.marts_json(spark, gold)) == {}
    assert D.render_text(spark, gold) == "\n"


def test_pipeline_cli_prints_summary_and_dashboard(spark, tmp_path, capsys):
    from ecommerce_realtime_pipeline_spark.pipeline import run_cli

    with FX.pinned_conf(spark, FX.STATE_PARTITIONS):
        rc = run_cli(
            ["--work-dir", str(tmp_path / "p"), "--show-dashboard"],
            spark=spark,
        )
    assert rc == 0
    out = capsys.readouterr().out
    # the summary JSON is the first top-level block: ends at the first
    # line that is exactly "}"
    doc = json.loads(out[: out.index("\n}\n") + 3])
    assert doc["published"] == {
        "customers": 10, "events": 50, "orders": 25, "products": 10
    }
    assert "revenue_by_status" in out and "dq_gate" in out

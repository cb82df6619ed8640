"""Dashboard serving surface — the render layer over the gold marts.

The reference DECLARES a Streamlit dashboard for "orders per minute,
revenue trends, top products, and data quality metrics"
(``/root/reference/README.md:15,42``) but ships a 0-byte
``src/dashboard/streamlit_app.py`` stub. This module closes that
declared intent without taking a UI dependency: the marts the dashboard
would read (``pipeline.build_marts``) are served as plain JSON-ready
dicts and a fixed-width text report — the two shapes any front end
(Streamlit, Grafana JSON datasource, a CLI watch) consumes directly.

Serving cost model (the part that matters at 100 TB): the dashboard
NEVER touches silver or bronze — every mart is a group-cardinality-
sized gold table (statuses, minutes, top-10, event types, DQ tally)
materialized by the pipeline, so a render is a handful of
kilobyte-scale parquet reads regardless of ingest volume. Freshness is
the pipeline's trigger cadence, exactly like the reference's
dashboard-over-Postgres-marts design.
"""

from __future__ import annotations

import json
import os
from datetime import date, datetime
from decimal import Decimal

from pyspark.sql import SparkSession

from ecommerce_realtime_pipeline_spark.schemas import GOLD_MART_SCHEMAS
from ecommerce_realtime_pipeline_spark.storage import read_parquet

#: marts written by ``pipeline.build_marts`` — the reference README's
#: declared dashboard panels, in display order (each read with its
#: declared schema, ``schemas.GOLD_MART_SCHEMAS``).
MART_NAMES = (
    "orders_per_minute",
    "revenue_by_status",
    "top_products_by_quantity",
    "event_type_counts",
    "dq_gate",
)


def _plain(v):
    """JSON-safe cell: Decimal → str (exactness preserved), temporal →
    ISO-8601; everything else passes through."""
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    return v


def read_marts(spark: SparkSession, gold_dir: str) -> dict[str, list[dict]]:
    """Load every present gold mart as row dicts (panels with no data
    yet are simply absent — a dashboard renders what exists)."""
    out: dict[str, list[dict]] = {}
    for name in MART_NAMES:
        path = os.path.join(gold_dir, name)
        if not os.path.isdir(path):
            continue
        # mart-sized by design
        rows = read_parquet(spark, path, GOLD_MART_SCHEMAS[name]).collect()
        out[name] = [
            {k: _plain(v) for k, v in r.asDict().items()} for r in rows
        ]
    return out


def marts_json(spark: SparkSession, gold_dir: str) -> str:
    """The JSON feed (one document, panels keyed by mart name) — what a
    JSON-datasource front end polls."""
    return json.dumps(read_marts(spark, gold_dir), sort_keys=True, default=str)


def render_text(spark: SparkSession, gold_dir: str) -> str:
    """Fixed-width text report of every mart — the terminal dashboard.
    Column order follows the mart schema; values are str()-rendered."""
    marts = read_marts(spark, gold_dir)
    blocks: list[str] = []
    for name in MART_NAMES:
        if name not in marts:
            continue
        rows = marts[name]
        header = list(rows[0].keys()) if rows else []
        table = [header] + [[str(r[c]) for c in header] for r in rows]
        widths = [max(len(row[i]) for row in table) for i in range(len(header))]
        lines = [
            "  ".join(cell.ljust(w) for cell, w in zip(row, widths)).rstrip()
            for row in table
        ]
        underline = "-" * len(name)
        blocks.append("\n".join([name, underline, *lines]))
    return "\n\n".join(blocks) + "\n"

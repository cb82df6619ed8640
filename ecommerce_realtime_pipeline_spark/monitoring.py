"""Health checks (SURVEY §2.8; reference ``src/monitoring/health_checks.py``).

The reference declares a health-check module but ships it as a 0-byte
stub; its monitoring surface that IS implemented (processing_stats +
consumer_offsets tables, ``02_create_tables.sql:125-141``) lives here
in ``streaming.ingest`` (StatsListener / record_offsets). This module
adds the missing liveness/readiness surface, Spark-first:

- ``health_checks(spark, sf_dir, ...)`` returns a DataFrame of
  (check, status, detail) rows — machine-consumable like the DQ
  metrics tables, so a scheduler can alert on ``status != 'ok'``.
- Checks are CHEAP by design: schema reads hit parquet footers only;
  existence probes read a single row (``limit(1)``), never a full
  scan — a health probe that scans 100 TB is an outage of its own.
"""

from __future__ import annotations

import datetime as _dt
import os

from pyspark.sql import DataFrame, SparkSession

from ecommerce_realtime_pipeline_spark.catalog import TABLES, load_table
from ecommerce_realtime_pipeline_spark.schemas import CONSUMER_OFFSETS_SCHEMA
from ecommerce_realtime_pipeline_spark.storage import read_parquet

OK = "ok"
FAIL = "fail"

_RESULT_SCHEMA = "check string, status string, detail string"


def _session_check(spark: SparkSession) -> tuple[str, str, str]:
    try:
        alive = not spark.sparkContext._jsc.sc().isStopped()
        return ("spark_session", OK if alive else FAIL, spark.sparkContext.applicationId)
    except Exception as exc:  # stopped context raises
        return ("spark_session", FAIL, str(exc))


def _table_check(spark: SparkSession, sf_dir: str, table: str) -> tuple[str, str, str]:
    """Readable + non-empty, via footer schema and a one-row probe."""
    try:
        df = load_table(spark, sf_dir, table)
        n_cols = len(df.schema.fields)
        has_row = df.limit(1).count() == 1
        if n_cols == 0:
            return (f"table:{table}", FAIL, "empty schema")
        if not has_row:
            return (f"table:{table}", FAIL, "no rows")
        return (f"table:{table}", OK, f"{n_cols} columns")
    except Exception as exc:
        return (f"table:{table}", FAIL, str(exc).splitlines()[0][:200])


def _offsets_check(
    spark: SparkSession, offsets_path: str, max_age_seconds: float | None
) -> tuple[str, str, str]:
    """Consumer-offsets ledger exists and (optionally) is fresh — the
    lag alarm a deployment points at the R19 bookkeeping table.

    The age is that of the newest ``last_updated``, which advances only
    when a micro-batch lands rows (``run_ingest`` skips empty batches),
    so it measures DATA progress, not consumer liveness: an idle topic
    under a healthy consumer ages too. Liveness needs a progress-event
    heartbeat (ROADMAP direction 2)."""
    try:
        if not os.path.exists(offsets_path):
            return ("consumer_offsets", FAIL, "ledger missing")
        offs = read_parquet(spark, offsets_path, CONSUMER_OFFSETS_SCHEMA)
        row = offs.agg({"last_updated": "max"}).collect()[0]
        newest = row[0]
        if newest is None:
            return ("consumer_offsets", FAIL, "ledger empty")
        if max_age_seconds is not None:
            age = (
                _dt.datetime.now(_dt.timezone.utc)
                - newest.replace(tzinfo=_dt.timezone.utc)
            ).total_seconds()
            if age > max_age_seconds:
                return ("consumer_offsets", FAIL, f"stale: {age:.0f}s old")
        return ("consumer_offsets", OK, f"newest commit {newest.isoformat()}")
    except Exception as exc:
        return ("consumer_offsets", FAIL, str(exc).splitlines()[0][:200])


def _streams_check(spark: SparkSession) -> tuple[str, str, str]:
    """Active streaming queries are healthy (no stored exception)."""
    try:
        active = spark.streams.active
        bad = [q.name or q.id for q in active if q.exception() is not None]
        if bad:
            return ("streaming_queries", FAIL, f"failed: {bad}")
        return ("streaming_queries", OK, f"{len(active)} active")
    except Exception as exc:
        return ("streaming_queries", FAIL, str(exc).splitlines()[0][:200])


def health_checks(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, ...] = TABLES,
    offsets_path: str | None = None,
    max_offset_age_seconds: float | None = None,
) -> DataFrame:
    """Run all health checks; one (check, status, detail) row each.
    ``max_offset_age_seconds`` bounds the offsets ledger's data-progress
    age (see :func:`_offsets_check`), not consumer liveness."""
    rows = [_session_check(spark)]
    rows += [_table_check(spark, sf_dir, t) for t in tables]
    if offsets_path is not None:
        rows.append(_offsets_check(spark, offsets_path, max_offset_age_seconds))
    rows.append(_streams_check(spark))
    return spark.createDataFrame(rows, _RESULT_SCHEMA)


def is_healthy(report: DataFrame) -> bool:
    """True iff every check row is ok (the readiness-probe boolean)."""
    return report.filter(report.status != OK).limit(1).count() == 0

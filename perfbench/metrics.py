"""Workload and metric names with their units: the contract that
``BENCHMARK.json`` records and ``test_perfbench.py`` keeps in step."""

WORKLOADS = ("ingest_trickle", "read_mix")

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
}

INGEST_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch")
READ_QUERIES = (
    "top_products_by_revenue", "revenue_by_nation", "customer_value_deciles",
    "events_hll_users", "orders_per_minute", "dq_fk_orphans",
    "revenue_grouping_sets", "events_asof_attribution",
)
INDEXES = ("text_index", "positional_index", "ivf_index")

PER_LAYER = {
    "session.start_s": "s", "session.peak_rss_mb": "MB",
    "produce.busy_s": "s", "produce.records": "count", "produce.bytes": "B", "produce.jobs": "count",
    "ingest.busy_s": "s", "ingest.triggers": "count", "ingest.input_rows": "count",
    **{f"ingest.{p}_ms": "ms" for p in INGEST_PHASES},
    "ingest.state_rows": "count", "ingest.state_bytes": "B",
    "ingest.jobs": "count", "ingest.tasks": "count", "ingest.buckets_touched": "count",
    "ingest.silver_files_written": "count", "ingest.silver_bytes_written": "B",
    "ingest.write_amplification": "ratio",
    "marts.busy_s": "s", "marts.jobs": "count", "marts.tasks": "count",
    "marts.rows_validated": "count", "marts.gold_bytes_written": "B",
    "marts.revalidation_ratio": "ratio",
    **{f"{f}.{m}": u for f in ("kpi", "dq", "temporal")
       for m, u in (("busy_s", "s"), ("jobs", "count"), ("stages", "count"), ("tasks", "count"))},
    **{f"query.{q}_s": "s" for q in READ_QUERIES},
    **{f"{k}.{m}": u for k in INDEXES
       for m, u in (("serve_s", "s"), ("serve_jobs", "count"), ("merge_s", "s"),
                    ("merge_bytes_written", "B"), ("segments", "count"))},
    "traced.latency_p50_s": "s", "traced.ops_per_s": "1/s",
    "scaling.local1_latency_s": "s", "scaling.local1_ops_per_s": "1/s",
}

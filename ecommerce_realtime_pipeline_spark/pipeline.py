"""End-to-end pipeline orchestration — the Spark realization of the
reference's DECLARED-but-empty ``scripts/start_pipeline.sh`` /
``stop_pipeline.sh`` flow (SURVEY §3 EP3: produce → consume →
normalize → query): one call wires generation → envelope publish →
exactly-once streaming ingest (per entity) → data-quality gate → GOLD
mart tables, on plain directories.

This is deliberately a THIN composition of the tested stages — the
operators own the semantics; the pipeline owns the layout contract:

    <work_dir>/topics/<entity>/     file-topic envelopes (bronze)
    <work_dir>/silver/<entity>/     bucketed last-write-wins snapshots
    <work_dir>/silver/order_items/  exploded child table (R11)
    <work_dir>/offsets/             consumer-offset ledger (R19)
    <work_dir>/gold/<mart>/         mart tables (the dbt marts/ intent)

Everything is rerunnable: publish offsets advance via ``base_offset``,
ingest replays are exactly-once (checkpoint + offset dedup), the gold
rewrite is an atomic snapshot swap. The marts mirror the reference's
declared dashboard KPIs (README.md:15: "orders per minute, revenue
trends, top products, and data quality metrics") computed over the
INGESTED silver tables — the layer the reference's empty dbt
``marts/`` directory promises.

Scale: each stage inherits its operator's plan properties (bucketed
O(touched) upserts, partial-agg KPI shuffles, quarantine anti-joins);
the orchestration itself adds no driver-side data movement.
"""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark import storage
from ecommerce_realtime_pipeline_spark.catalog import money
from ecommerce_realtime_pipeline_spark.session import overlapped
from ecommerce_realtime_pipeline_spark.sources import produce as P
from ecommerce_realtime_pipeline_spark.streaming import ingest as I

#: entities flowing through the silver layer (products ride the same
#: path; events are append-only facts keyed by their immutable id).
ENTITIES = ("products", "customers", "orders", "events")


def build_marts(spark: SparkSession, silver_dir: str, gold_dir: str) -> dict[str, int]:
    """Materialize the gold marts (the dbt ``marts/`` layer): revenue
    by order status, orders per minute, top products by ordered
    quantity, event-type counts, and the DQ-gate tally. The KPI marts
    consume the gate's VALID side — a quarantined row (duplicate item
    line, corrupt total, FK orphan) must not flow into the dashboards
    it was flagged out of (gate and marts would otherwise contradict
    each other; test-pinned on the duplicate item lines). Each mart is
    a full (mart-sized, tiny) snapshot written atomically: one
    partition, rows sorted within it, so a reader sees them in display
    order without a global sort (a sample job and a range shuffle).
    Returns mart → row count, summed from the written files' footers.
    The marts are the children of ``gold_dir``, recovered first from a
    swap a crashed build left unfinished (``storage.recover``)."""
    storage.recover(gold_dir)
    gate, valid_frames = dq_gate(spark, silver_dir)
    orders = valid_frames["orders"]
    items = valid_frames["order_items"]
    events = valid_frames["events"]

    marts: dict[str, DataFrame] = {
        "revenue_by_status": _one_sorted(
            orders.groupBy("status").agg(
                F.count("*").alias("n_orders"),
                F.sum(money("total")).alias("revenue"),
            ),
            "status",
        ),
        "orders_per_minute": _one_sorted(
            orders.groupBy(
                F.date_trunc("minute", F.col("created_at")).alias("minute")
            ).agg(F.count("*").alias("n_orders")),
            "minute",
        ),
        "top_products_by_quantity": (
            items.groupBy("product_id")
            .agg(
                F.sum("quantity").alias("total_quantity"),
                F.sum(money("line_total")).alias("revenue"),
            )
            .orderBy(F.desc("total_quantity"), "product_id")
            .limit(10)
        ),
        "event_type_counts": _one_sorted(
            events.groupBy("event_type").agg(F.count("*").alias("n_events")),
            "event_type",
        ),
    }
    marts["dq_gate"] = _one_sorted(gate, "table_name")

    # the five marts are independent tiny snapshots — submit their
    # write jobs from a small thread pool so the next mart's
    # tasks back-fill executors freed by the previous one's tail
    # (guide §2.6 overlap). Each writes its own uuid-temp
    # dir + target path, so no shared mutable state crosses threads.
    def _write_one(name: str, df: DataFrame) -> tuple[str, int]:
        path = os.path.join(gold_dir, name)
        storage.swap_dir(df, path)
        return name, storage.parquet_rows(path)

    return dict(
        overlapped(*(partial(_write_one, name, df) for name, df in marts.items()))
    )


def _one_sorted(df: DataFrame, *cols: str) -> DataFrame:
    """A mart-sized frame as one partition sorted by ``cols``."""
    return df.coalesce(1).sortWithinPartitions(*cols)


def dq_gate(
    spark: SparkSession, silver_dir: str
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """The validation stage: run the full constraint pass (row rules +
    uniqueness + FKs against the ingested parents —
    ``validation.validate_entity``) over every silver table. Returns
    (tally mart, valid frames) — the tally is the DQ mart, the valid
    side feeds the KPI marts. Even the "clean" seeded batch
    quarantines the generator's duplicate (order_id, product_id) item
    lines — exactly the rows the reference's
    UNIQUE(order_id, product_id) would reject (seed-frozen at 5 in
    tests); corruption-enabled runs light up the other rules too.

    Cost: ONE validation execution per table — the checked rows
    (every silver row with its violations) are localCheckpointed, that
    materialization being the only run of the rule DAG; one aggregate
    over the checkpoint gives the total and valid counts, and the mart
    builds reuse the checkpoint's valid side."""
    from ecommerce_realtime_pipeline_spark.operators import validation as V

    silver = {
        e: I.read_silver(spark, os.path.join(silver_dir, e), e) for e in ENTITIES
    }
    silver["order_items"] = I.read_bucketed(
        spark, os.path.join(silver_dir, "order_items"), "order_items"
    )
    parents = {
        "customers": silver["customers"],
        "products": silver["products"],
        "orders": silver["orders"],
    }
    # per-table validations are independent (each reads its own silver
    # table; FK parents are the raw silver frames, not other tables'
    # valid sides) — run them from a small thread pool so one table's
    # checkpoint/count tail back-fills with the next table's tasks
    # (guide §2.6). Results are deterministic, so the tally is
    # byte-identical to a sequential loop's.
    def _one(name: str) -> tuple[str, DataFrame, int, int]:
        checked = V.check_entity(name, silver[name], parents).localCheckpoint()
        n_total, n_valid = checked.agg(
            F.count("*"), F.count_if(F.size(V.VIOLATIONS_COL) == 0)
        ).first()
        valid, _quarantine = V.split_valid(checked)
        return name, valid, n_valid, n_total

    results = overlapped(*(partial(_one, n) for n in (*ENTITIES, "order_items")))
    valid_frames = {name: valid for name, valid, _nv, _nt in results}
    rows = [
        (name, n_valid, n_total - n_valid)
        for name, _valid, n_valid, n_total in results
    ]
    tally = spark.createDataFrame(
        sorted(rows), "table_name string, n_valid long, n_quarantined long"
    )
    return tally, valid_frames


def run_pipeline(
    spark: SparkSession,
    work_dir: str,
    product_count: int = 10,
    customer_count: int = 10,
    order_count: int = 25,
    event_count: int = 50,
    seed: int = 42,
    corruption_enabled: bool = False,
    base_offset: int = 0,
    publisher=None,
) -> dict:
    """One full produce → ingest → marts cycle. To feed the NEXT
    batch, call again with a LARGER ``base_offset`` — offsets are the
    exactly-once identity, so a second publish at the same offsets is
    (by design) swallowed as a replay by the checkpointed offset
    dedup, even under a different seed. With advanced offsets: ingest
    stays exactly-once across calls, silver upserts are
    last-write-wins, marts rebuild from the updated valid silver.
    Returns a summary dict {published, silver_counts, marts}.

    ``publisher`` lets a caller swap the produce step for a
    signature-compatible stand-in (the bench plans pass a
    session-memoized topic-tree publisher); default is the real
    ``produce_batch``."""
    topics = os.path.join(work_dir, "topics")
    silver = os.path.join(work_dir, "silver")
    offsets = os.path.join(work_dir, "offsets")
    ckpt = os.path.join(work_dir, "ckpt")
    gold = os.path.join(work_dir, "gold")

    published = (publisher or P.produce_batch)(
        spark,
        topics,
        product_count,
        customer_count,
        order_count,
        event_count,
        seed=seed,
        corruption_enabled=corruption_enabled,
        base_offset=base_offset,
        n_partitions=2,
    )
    # The four entity ingests are independent pipelines (disjoint
    # topics, silver tables, checkpoints — and a per-TOPIC offsets
    # ledger dir, so the read-merge-swap ledger update never races):
    # start them all, then await. On a cluster these are four separate
    # streaming jobs anyway; sequential awaiting here would serialize
    # ~4× fixed per-query trigger overhead for no ordering benefit.
    running = [
        (
            entity,
            I.run_ingest(
                spark,
                os.path.join(topics, entity),
                entity,
                os.path.join(silver, entity),
                os.path.join(ckpt, entity),
                offsets_path=os.path.join(offsets, entity),
                items_path=(
                    os.path.join(silver, "order_items")
                    if entity == "orders"
                    else None
                ),
            ),
        )
        for entity in ENTITIES
    ]
    for entity, q in running:
        if not q.awaitTermination(120):
            # A hung/slow ingest must FAIL the run, not let the marts
            # build from partial silver with silently-wrong counts.
            # Stop EVERY started query, not just the hung one — the
            # exception unwinds to callers that tear down the work dir
            # (tests with tmp paths, the CLI), and a still-live
            # foreachBatch writer on a deleted path turns one clear
            # TimeoutError into a cascade of confusing secondaries.
            for _, other in running:
                try:
                    other.stop()
                except Exception:
                    pass  # best-effort teardown; the TimeoutError is the story
            raise TimeoutError(
                f"ingest for '{entity}' did not terminate within 120s"
            )
    # five independent footer-count scans — overlap them (guide §2.6)
    def _count_one(e: str) -> tuple[str, int]:
        return e, I.read_bucketed(spark, os.path.join(silver, e), e).count()

    silver_counts = dict(
        overlapped(*(partial(_count_one, e) for e in (*ENTITIES, "order_items")))
    )
    marts = build_marts(spark, silver, gold)
    return {
        "published": published,
        "silver_counts": silver_counts,
        "marts": marts,
    }


def run_cli(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    """The reference's DECLARED ``scripts/start_pipeline.sh`` as a real
    CLI: ``python -m ecommerce_realtime_pipeline_spark.pipeline
    --work-dir /tmp/shop`` runs one produce → ingest → marts cycle and
    prints the JSON layer summary; ``--show-dashboard`` appends the
    text render of the gold marts (the declared Streamlit panels).
    Re-running with ``--base-offset`` advanced feeds the NEXT batch
    through the same exactly-once ingest (offsets are the identity).
    Exit code 0 on success; any ingest timeout raises (non-zero)."""
    import argparse
    import json

    parser = argparse.ArgumentParser(
        description="Run one produce -> ingest -> marts pipeline cycle"
    )
    parser.add_argument("--work-dir", required=True)
    parser.add_argument("--products", type=int, default=10)
    parser.add_argument("--customers", type=int, default=10)
    parser.add_argument("--orders", type=int, default=25)
    parser.add_argument("--events", type=int, default=50)
    parser.add_argument("--seed", type=int, default=42)
    parser.add_argument("--corrupt", action="store_true")
    parser.add_argument("--base-offset", type=int, default=0)
    parser.add_argument("--show-dashboard", action="store_true")
    args = parser.parse_args(argv)
    if spark is None:
        from ecommerce_realtime_pipeline_spark.session import get_spark

        spark = get_spark("pipeline_cli")
    summary = run_pipeline(
        spark,
        args.work_dir,
        product_count=args.products,
        customer_count=args.customers,
        order_count=args.orders,
        event_count=args.events,
        seed=args.seed,
        corruption_enabled=args.corrupt,
        base_offset=args.base_offset,
    )
    print(json.dumps(summary, indent=2, sort_keys=True))
    if args.show_dashboard:
        from ecommerce_realtime_pipeline_spark import dashboard as D

        print(D.render_text(spark, os.path.join(args.work_dir, "gold")))
    return 0


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(run_cli())

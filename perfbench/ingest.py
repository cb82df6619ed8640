"""``ingest_trickle``: small updates into a preloaded silver layer.

Set-up publishes one seeded batch (``generate_batch``, ``to_envelope``,
one ``write_topic``) and runs one untimed cycle, which lands it through
the four ``run_ingest`` queries and ``build_marts``. Each timed cycle
then publishes, with ``to_envelope`` + ``write_topic`` at advancing
offsets, a status change for a seeded-hash 1% of the preloaded orders
and a fresh set of events; it drains the four ingest queries and
rebuilds the marts. One client, closed loop: the next cycle starts when
the previous one returns.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback
from functools import reduce

import pyarrow.dataset as pads
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark import pipeline as PL
from ecommerce_realtime_pipeline_spark.operators import generate as G
from ecommerce_realtime_pipeline_spark.schemas import ORDER_STATUSES
from ecommerce_realtime_pipeline_spark.sources import produce as P
from ecommerce_realtime_pipeline_spark.streaming import ingest as I

from perfbench.metrics import INGEST_PHASES
from perfbench.spans import file_sizes, written

PRELOAD = {"products": 250, "customers": 1250, "orders": 3000, "events": 12500}
NEW_EVENTS = 2000
UPDATE_ONE_IN = 100
OFFSET_STRIDE = 10_000_000
MIN_CYCLES = 1


def _rows(path: str) -> int:
    """Row count of a parquet directory, read from footers (no Spark job)."""
    return pads.dataset(path, format="parquet", partitioning="hive").count_rows()


class Trickle:
    def __init__(self, spark, work: str, seed: int, tracer, scale: float = 1.0):
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.orders = self.customers = None
        self.counts = {e: max(4, int(n * scale)) for e, n in PRELOAD.items()}
        self.new_events = max(4, int(NEW_EVENTS * scale))
        self.topics = os.path.join(work, "topics")
        self.silver = os.path.join(work, "silver")
        self.gold = os.path.join(work, "gold")
        self.ckpt = os.path.join(work, "ckpt")
        self.offsets = os.path.join(work, "offsets")
        self.producer = P.ProducerMetrics()
        self.layers: dict[str, float] = {}
        self.events_published = 0
        self.cycles_done = 0

    def _add(self, key: str, value: float) -> None:
        self.layers[key] = self.layers.get(key, 0) + value

    # -- set-up ---------------------------------------------------------
    def preload(self) -> None:
        """Publish the seeded batch in one write; the first cycle ingests it."""
        batch = self.attach(self.spark)
        envelopes = [P.to_envelope(getattr(batch, e).drop("_idx"), e) for e in PL.ENTITIES]
        msgs, payload = P.write_topic(
            reduce(lambda a, b: a.unionByName(b), envelopes), self.topics, n_partitions=2
        )
        self.producer.record(msgs, payload)
        self.events_published += self.counts["events"]

    def attach(self, spark) -> G.SyntheticBatch:
        """Bind to ``spark``: generate the seeded batch that cycles draw
        their order updates and event customers from."""
        self.spark = spark
        c = self.counts
        batch = G.generate_batch(
            spark, c["products"], c["customers"], c["orders"], c["events"], seed=self.seed
        ).materialize()
        self.orders = batch.orders.drop("_idx")
        self.customers = batch.customers
        return batch

    def _ingest(self) -> list:
        queries = [
            I.run_ingest(
                self.spark,
                os.path.join(self.topics, e),
                e,
                os.path.join(self.silver, e),
                os.path.join(self.ckpt, e),
                offsets_path=os.path.join(self.offsets, e),
                items_path=os.path.join(self.silver, "order_items") if e == "orders" else None,
            )
            for e in PL.ENTITIES
        ]
        for q in queries:
            q.awaitTermination()
        return queries

    # -- one timed cycle --------------------------------------------------
    def _picked(self, n: int):
        """Orders that cycle ``n`` updates: a seeded-hash 1 in UPDATE_ONE_IN."""
        key = F.xxhash64("order_id", F.lit(self.seed), F.lit(n))
        return F.pmod(key, F.lit(UPDATE_ONE_IN)) == 0

    @staticmethod
    def _status(n: int) -> str:
        return ORDER_STATUSES[1 + n % (len(ORDER_STATUSES) - 1)]

    def cycle(self) -> tuple[float, float]:
        """Publish, ingest, rebuild marts. Returns (freshness_s, wall_s):
        freshness runs from ``write_topic`` returning to ``build_marts``
        returning; wall includes the publish."""
        n = self.cycles_done
        self.cycles_done += 1
        updates = self.orders.filter(self._picked(n)).withColumn(
            "status", F.lit(self._status(n))
        ).withColumn(
            "updated_at", F.col("created_at") + F.make_interval(days=F.lit(n + 1))
        )
        events = G.gen_events(
            self.spark, self.new_events, self.customers, self.counts["customers"],
            seed=self.seed * 7919 + n + 1,
        ).drop("_idx")
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("produce"):
            envelopes = P.to_envelope(updates, "orders").unionByName(
                P.to_envelope(events, "events")
            )
            msgs, payload = P.write_topic(
                envelopes, self.topics, n_partitions=2, base_offset=(n + 1) * OFFSET_STRIDE
            )
        t1 = time.perf_counter()
        self.producer.record(msgs, payload)
        silver_before = file_sizes(self.silver) if tr.enabled else None
        with tr.span("ingest"):
            queries = self._ingest()
        if tr.enabled:
            silver_after = file_sizes(self.silver)
            gold_before = file_sizes(self.gold)
        with tr.span("marts"):
            PL.build_marts(self.spark, self.silver, self.gold)
        t2 = time.perf_counter()
        self.events_published += self.new_events
        if tr.enabled:
            self._trace_cycle(queries, silver_before, silver_after, gold_before, msgs, payload)
        return t2 - t1, t2 - t0

    def _trace_cycle(self, queries, silver_before, silver_after, gold_before, msgs, payload):
        self._add("produce.records", msgs)
        self._add("produce.bytes", payload)
        for q in queries:
            progress = q.recentProgress
            self._add("ingest.triggers", len(progress))
            for p in progress:
                self._add("ingest.input_rows", p.numInputRows)
                for phase in INGEST_PHASES:
                    self._add(f"ingest.{phase}_ms", p.durationMs.get(phase, 0))
            if progress and progress[-1].stateOperators:
                for op in progress[-1].stateOperators:
                    self._add("ingest.state_rows", op.numRowsTotal)
                    self._add("ingest.state_bytes", op.memoryUsedBytes)
        files, nbytes = written(silver_before, silver_after)
        self._add("ingest.silver_files_written", len(files))
        self._add("ingest.silver_bytes_written", nbytes)
        self._add("ingest.buckets_touched", len({os.path.dirname(f) for f in files}))
        self._add("ingest.payload_bytes", payload)
        gold_bytes = written(gold_before, file_sizes(self.gold))[1]
        self._add("marts.gold_bytes_written", gold_bytes)
        tally = pads.dataset(os.path.join(self.gold, "dq_gate")).to_table().to_pylist()
        self._add("marts.rows_validated", sum(r["n_valid"] + r["n_quarantined"] for r in tally))
        self._add("marts.rows_published", msgs)

    # -- correctness gate (outside the timed region) ----------------------
    def check(self) -> set[int]:
        """Cycles whose results are wrong. Silver must hold exactly the
        published keys, each updated order the status of the last cycle
        that touched it, and the ``dq_gate`` tally the silver counts."""
        c = self.counts
        want = {
            "products": c["products"], "customers": c["customers"],
            "orders": c["orders"], "events": self.events_published,
        }
        got = {e: _rows(os.path.join(self.silver, e)) for e in (*PL.ENTITIES, "order_items")}
        tally = {
            r["table_name"]: r["n_valid"] + r["n_quarantined"]
            for r in pads.dataset(os.path.join(self.gold, "dq_gate")).to_table().to_pylist()
        }
        if tally != got or any(got[e] != n for e, n in want.items()):
            return set(range(self.cycles_done))
        last = F.coalesce(*[
            F.when(self._picked(n), F.lit(n)) for n in reversed(range(self.cycles_done))
        ])
        silver = I.read_silver(self.spark, os.path.join(self.silver, "orders"))
        rows = (
            self.orders.select("order_id", last.alias("cycle"))
            .where(F.col("cycle").isNotNull())
            .join(silver.select("order_id", "status"), "order_id", "left")
            .collect()
        )
        return {r["cycle"] for r in rows if r["status"] != self._status(r["cycle"])}


def run(bench: Trickle, seconds: float) -> dict:
    """Set up, then time whole cycles until ``seconds`` have passed and
    at least ``MIN_CYCLES`` ran. Per-layer figures are per timed cycle."""
    tr = bench.tracer
    t0 = time.perf_counter()
    with tr.span("setup"):
        bench.preload()
        bench.cycle()  # warm-up: lands the preload and plans every step
    setup_s = time.perf_counter() - t0
    first_cycle, first_span = bench.cycles_done, len(tr.spans)
    bench.layers = {}
    fresh, walls, errors = [], [], set()
    start = time.perf_counter()
    while time.perf_counter() - start < seconds or len(walls) < MIN_CYCLES:
        t = time.perf_counter()
        try:
            with tr.span("cycle"):
                f, w = bench.cycle()
        except Exception:  # a failed cycle is counted, not dropped
            traceback.print_exc()
            f = w = time.perf_counter() - t
            errors.add(bench.cycles_done - 1)
        fresh.append(f)
        walls.append(w)
    failed = len((errors | bench.check()) & set(range(first_cycle, bench.cycles_done)))
    n = len(walls)
    layers = {k: v / n for k, v in bench.layers.items()}
    if tr.enabled:
        own = tr.self_times()
        for layer in ("produce", "ingest", "marts"):
            mine = [s for s in tr.spans[first_span:] if s["name"] == layer]
            layers[f"{layer}.busy_s"] = sum(own[s["id"]] for s in mine) / n
            for c in ("jobs", "stages", "tasks"):
                layers[f"{layer}.{c}"] = sum(s["counts"][c] for s in mine) / n
        layers["ingest.write_amplification"] = (
            layers["ingest.silver_bytes_written"] / layers["ingest.payload_bytes"]
        )
        layers["marts.revalidation_ratio"] = (
            layers["marts.rows_validated"] / layers["marts.rows_published"]
        )
    return {
        "setup_s": setup_s,
        "latencies": fresh,
        "attempted": n,
        "failed": failed,
        "latency_p50_s": statistics.median(fresh),
        "ops_per_s": n / sum(walls),
        "layers": layers,
    }

"""Crash points of the one directory swap, ``storage.swap_dir``, over
the real writers: ingest (silver, ``order_items``, the offsets ledger),
the gold marts, the HLL registers, a contagg epoch and compaction.

A crash is injected by making one ``os.rename`` of a swap raise, the
swap's only commit step. The crashed stage is then restarted on the
same checkpoint: its writer recovers the table (``storage.recover``)
before its first read, the uncommitted epoch replays, and every table
must come out row-equal to an uncrashed run, with no staging name left
anywhere under the work dir."""

from __future__ import annotations

import collections
import os
import re
import shutil
from functools import partial

import pytest

from ecommerce_realtime_pipeline_spark import pipeline as P
from ecommerce_realtime_pipeline_spark import storage
from ecommerce_realtime_pipeline_spark.plans import fixtures as FX
from ecommerce_realtime_pipeline_spark.schemas import GOLD_MART_SCHEMAS
from ecommerce_realtime_pipeline_spark.sources.produce import produce_batch
from ecommerce_realtime_pipeline_spark.streaming import contagg as CA
from ecommerce_realtime_pipeline_spark.streaming import ingest as I
from ecommerce_realtime_pipeline_spark.streaming import sketchstream as SS

CRASH = "injected swap crash"
#: wall-clock columns: stamped at write time, so they differ run to run
CLOCK_COLS = ("inserted_at", "last_modified", "last_updated")
OLD = re.compile(r"__old_[0-9a-f]{8}$")
TMP = re.compile(r"__tmp_[0-9a-f]{8}$")


class Crash(OSError):
    """The injected failure of one swap rename."""


def _swap_step(src: str, dst: str):
    """(table, unit kind, step, swap) of a ``swap_dir`` rename, or None
    for any other rename. ``swap`` names the staging dir of a move-in."""
    if OLD.search(dst):
        unit, step, swap = src, "aside", None
    else:
        swap = next((p for p in (src, os.path.dirname(src)) if TMP.search(p)), None)
        if swap is None:
            return None
        unit, step = dst, "in"
    if os.path.basename(unit).startswith("bucket="):
        return os.path.dirname(unit), "bucket", step, swap
    return unit, "whole", step, swap


#: crash points: (unit kind, step) of a whole-directory swap, or the
#: move-in of the n-th bucket of a per-bucket swap (after that bucket
#: was moved aside, when it existed)
POINTS = {
    "whole_move_aside": ("whole", "aside"),
    "whole_move_in": ("whole", "in"),
    "first_bucket": ("bucket", 0),
    "later_bucket": ("bucket", 1),
}


class Injector:
    """Make the first matching swap rename of each table raise, once."""

    def __init__(self, point: str):
        self.kind, self.at = POINTS[point]
        self.crashed: list[str] = []
        self.buckets_in = collections.Counter()
        self.real = os.rename

    def __call__(self, src, dst):
        step = _swap_step(str(src), str(dst))
        if step is not None and self._matches(*step):
            self.crashed.append(step[0])
            raise Crash(f"{CRASH}: {src} -> {dst}")
        return self.real(src, dst)

    def _matches(self, table, kind, step, swap) -> bool:
        if kind != self.kind or table in self.crashed:
            return False
        if kind == "whole":
            return step == self.at
        if step != "in":
            return False
        nth = self.buckets_in[swap]
        self.buckets_in[swap] += 1
        return nth == self.at


def _until_done(stage) -> int:
    """Run ``stage``, restarting it after each injected crash; the
    number of crashed runs."""
    for crashes in range(8):
        try:
            stage()
            return crashes
        except Exception as exc:  # a crashed stream raises its own wrapper
            if CRASH not in str(exc):
                raise
    raise AssertionError("stage still crashing after 8 runs")


def _stages(spark, src: str, work: str) -> dict:
    """One cycle through the real writers, stage by stage."""

    def ingest():
        q = I.run_ingest(
            spark,
            f"{src}/topics/orders",
            "orders",
            f"{work}/silver/orders",
            f"{work}/ckpt/orders",
            offsets_path=f"{work}/offsets/orders",
            items_path=f"{work}/silver/order_items",
        )
        FX.await_run(q, "orders ingest")

    def hll():
        FX.await_run(
            SS.run_hll_stream(spark, f"{src}/hll", f"{work}/regs", f"{work}/ckpt/hll"),
            "hll stream",
        )

    def contagg():
        q = CA.run_ingest_with_agg(
            spark,
            f"{src}/topics/orders",
            "orders",
            f"{work}/agg_silver",
            f"{work}/agg",
            f"{work}/ckpt/agg",
            "status",
            "total",
        )
        FX.await_run(q, "contagg ingest")

    return {
        "ingest": ingest,
        "marts": lambda: P.build_marts(spark, f"{work}/silver", f"{work}/gold"),
        "hll": hll,
        "contagg": contagg,
        "compact": lambda: I.compact_buckets(spark, f"{work}/frag"),
    }


def _rows(df) -> list[str]:
    return sorted(str(r) for r in df.drop(*CLOCK_COLS).collect())


def _tables(spark, work: str, stages) -> dict:
    """Every table the named stages write, as sorted row strings (the
    compacted table's files per bucket too)."""
    read = {
        "ingest": {
            "orders": lambda: I.read_bucketed(spark, f"{work}/silver/orders", "orders"),
            "order_items": lambda: I.read_bucketed(
                spark, f"{work}/silver/order_items", "order_items"
            ),
            "offsets": lambda: spark.read.parquet(f"{work}/offsets/orders"),
        },
        "marts": {
            name: partial(storage.read_parquet, spark, f"{work}/gold/{name}", schema)
            for name, schema in GOLD_MART_SCHEMAS.items()
        },
        "hll": {"regs": lambda: spark.read.parquet(f"{work}/regs")},
        "contagg": {
            "agg_silver": lambda: I.read_bucketed(spark, f"{work}/agg_silver", "orders"),
            "agg": lambda: CA.read_continuous_agg(spark, f"{work}/agg"),
        },
        "compact": {"frag": lambda: spark.read.parquet(f"{work}/frag")},
    }
    out = {
        name: _rows(frame())
        for stage in stages
        for name, frame in read[stage].items()
    }
    if "compact" in stages:
        frag = f"{work}/frag"
        out["frag_files"] = sorted(
            (d, sum(f.endswith(".parquet") for f in os.listdir(f"{frag}/{d}")))
            for d in os.listdir(frag)
            if d.startswith("bucket=")
        )
    return out


def _leftovers(work: str) -> list[str]:
    return [
        os.path.join(d, n)
        for d, subdirs, files in os.walk(work)
        for n in subdirs + files
        if "__tmp_" in n or "__old_" in n
    ]


def _hll_lines(users, etype):
    return [f'{{"user_id": {u}, "event_type": "{etype}"}}' for u in users]


@pytest.fixture(scope="module")
def cycle(spark, tmp_path_factory):
    """(src, state0, expected): the shared sources, the work dir after
    one uncrashed cycle, and the tables after a second uncrashed cycle
    on a copy of it. The sources live outside the work dir, so a copy
    keeps the file paths its checkpoints recorded."""
    root = tmp_path_factory.mktemp("swap_recovery")
    src, state0 = str(root / "src"), str(root / "state0")
    with FX.pinned_conf(spark, FX.STATE_PARTITIONS):
        produce_batch(
            spark, f"{src}/topics", 6, 6, 24, 12, seed=42, n_partitions=2
        )
        FX.write_jsonl(f"{src}/hll", "b0.json", _hll_lines(range(40), "view"))
        # a table whose buckets each hold a part-file per writing task
        frag = spark.createDataFrame(
            [(f"c{i}", f"c{i}@x.com") for i in range(120)],
            "customer_id string, email string",
        ).withColumn("bucket", I.bucket_of("customer_id"))
        frag.repartition(4).write.partitionBy("bucket").parquet(f"{state0}/frag")
        # the first cycle ingests every entity, so the marts have parents
        running = [
            I.run_ingest(
                spark,
                f"{src}/topics/{e}",
                e,
                f"{state0}/silver/{e}",
                f"{state0}/ckpt/{e}",
                offsets_path=f"{state0}/offsets/{e}",
            )
            for e in ("products", "customers", "events")
        ]
        for q in running:
            FX.await_run(q, "first-cycle ingest")
        stages = _stages(spark, src, state0)
        for name in ("ingest", "marts", "hll", "contagg"):
            stages[name]()
        # the second cycle's input: new orders at new offsets, new users
        produce_batch(
            spark,
            f"{src}/topics",
            order_count=24,
            seed=43,
            n_partitions=2,
            base_offset=1000,
            entities=("orders",),
        )
        FX.write_jsonl(f"{src}/hll", "b1.json", _hll_lines(range(20, 70), "click"))
        base = str(root / "uncrashed")
        shutil.copytree(state0, base)
        stages = _stages(spark, src, base)
        for stage in stages.values():
            stage()
    expected = _tables(spark, base, stages)
    assert [n for n, files in expected["frag_files"] if files != 1] == []
    return src, state0, expected


#: the stages each crash point reaches, in cycle order (the contagg
#: versions are fresh directories, so no contagg swap has an old unit
#: to move aside); a crash point runs only these
REACHED = {
    "whole_move_aside": ("ingest", "marts", "hll"),
    "whole_move_in": ("ingest", "marts", "hll", "contagg"),
    "first_bucket": ("ingest", "contagg", "compact"),
    "later_bucket": ("ingest", "contagg", "compact"),
}


@pytest.mark.parametrize("point", sorted(POINTS))
def test_crash_point_converges_to_uncrashed_run(
    spark, cycle, tmp_path, monkeypatch, point
):
    """Every stage the crash point reaches crashes at least once, then
    converges: the tables it writes equal the uncrashed cycle's."""
    src, state0, expected = cycle
    work = str(tmp_path / "work")
    shutil.copytree(state0, work)
    inject = Injector(point)
    stages = _stages(spark, src, work)
    crashes = {}
    with FX.pinned_conf(spark, FX.STATE_PARTITIONS):
        monkeypatch.setattr(os, "rename", inject)
        for name in REACHED[point]:
            crashes[name] = _until_done(stages[name])
        monkeypatch.undo()
    assert all(crashes.values()), (crashes, inject.crashed)
    assert _leftovers(work) == []
    got = _tables(spark, work, REACHED[point])
    assert {k: v for k, v in got.items() if v != expected[k]} == {}


# -- the two crash windows that wedged or lost a table before recovery ----


def _customers(offset_rows):
    """Envelope lines of customer upserts: (partition, offset, id, email)."""
    import json

    return [
        json.dumps(
            {
                "topic": "customers",
                "topic_partition": part,
                "topic_offset": off,
                "message_key": cid,
                "payload": json.dumps(
                    {
                        "customer_id": cid,
                        "email": email,
                        "name": "A",
                        "created_at": "2025-01-01T00:00:00Z",
                        "updated_at": "2025-01-01T00:00:00Z",
                    }
                ),
                "consumed_at": "2025-01-01T00:00:00Z",
            }
        )
        for part, off, cid, email in offset_rows
    ]


def _ingest_customers(spark, tmp_path):
    q = I.run_ingest(
        spark,
        str(tmp_path / "src"),
        "customers",
        str(tmp_path / "silver"),
        str(tmp_path / "ckpt"),
        offsets_path=str(tmp_path / "offsets"),
    )
    FX.await_run(q, "customers ingest")


def _crash_once(spark, tmp_path, monkeypatch, point) -> list[str]:
    """Run the customers ingest with ``point`` injected until it
    crashes once; the work dir's entries at the crash."""
    monkeypatch.setattr(os, "rename", Injector(point))
    with pytest.raises(Exception, match=CRASH):
        _ingest_customers(spark, tmp_path)
    monkeypatch.undo()
    return sorted(os.listdir(tmp_path / "silver")) + sorted(os.listdir(tmp_path))


def test_silver_replays_after_a_crash_that_moved_a_bucket_aside(
    spark, tmp_path, monkeypatch
):
    """A crash after the upsert moved a touched bucket aside leaves
    silver without that bucket. The replay recovers it before its
    pruned read (which would otherwise fail to cast the staging name
    as a bucket id) and lands every upsert, losing no untouched row."""
    first = [(0, i, f"c{i}", "old@x.com") for i in range(12)]
    FX.write_jsonl(str(tmp_path / "src"), "b0.json", _customers(first))
    with FX.pinned_conf(spark, FX.STATE_PARTITIONS):
        _ingest_customers(spark, tmp_path)
        updates = [(0, 100 + i, f"c{i}", "new@x.com") for i in range(0, 12, 3)]
        FX.write_jsonl(str(tmp_path / "src"), "b1.json", _customers(updates))
        entries = _crash_once(spark, tmp_path, monkeypatch, "first_bucket")
        assert any("__old_" in e for e in entries), entries
        _ingest_customers(spark, tmp_path)
    got = {
        r["customer_id"]: r["email"]
        for r in I.read_silver(spark, str(tmp_path / "silver"), "customers").collect()
    }
    want = {f"c{i}": "new@x.com" if i % 3 == 0 else "old@x.com" for i in range(12)}
    assert got == want
    assert _leftovers(str(tmp_path)) == []


def test_offsets_ledger_keeps_partition_0_after_a_crash_between_renames(
    spark, tmp_path, monkeypatch
):
    """A crash between the ledger swap's two renames leaves no
    ``offsets`` dir. The replay rolls the old ledger back before it
    merges, so partition 0's committed offset survives a batch that
    only carries partition 1."""
    first = [(0, 5, "c1", "a@x.com"), (1, 7, "c2", "b@x.com")]
    FX.write_jsonl(str(tmp_path / "src"), "b0.json", _customers(first))
    with FX.pinned_conf(spark, FX.STATE_PARTITIONS):
        _ingest_customers(spark, tmp_path)
        FX.write_jsonl(
            str(tmp_path / "src"), "b1.json", _customers([(1, 200, "c3", "c@x.com")])
        )
        entries = _crash_once(spark, tmp_path, monkeypatch, "whole_move_in")
        assert "offsets" not in entries, entries
        _ingest_customers(spark, tmp_path)
    ledger = sorted(
        (r["partition_id"], r["offset_committed"])
        for r in spark.read.parquet(str(tmp_path / "offsets")).collect()
    )
    assert ledger == [(0, 5), (1, 200)]
    assert _leftovers(str(tmp_path)) == []


def test_recover_reads_only_its_own_tables_staging(tmp_path):
    """``recover`` rolls a missing unit back from its ``__old_`` copy,
    drops the other leftovers of its own table, and leaves a sibling
    table's staging and names that are not staging names alone."""
    silver = tmp_path / "silver"
    for d in (
        "orders/bucket=1__old_0123abcd",  # bucket=1 missing: rolled back
        "orders/bucket=2",
        "orders/bucket=2__old_89abcdef",  # bucket=2 present: removed
        "orders/bucket=3__tmp_notahex",  # not a staging name
        "orders__tmp_deadbeef/bucket=1",  # the swap's staging tree
        "order_items/bucket=1__old_00000000",  # a sibling table's swap
        "order_items__tmp_cafebabe",
    ):
        os.makedirs(silver / d)
    storage.recover(str(silver / "orders"))
    assert sorted(os.listdir(silver)) == [
        "order_items",
        "order_items__tmp_cafebabe",
        "orders",
    ]
    assert sorted(os.listdir(silver / "orders")) == [
        "bucket=1",
        "bucket=2",
        "bucket=3__tmp_notahex",
    ]
    assert os.listdir(silver / "order_items") == ["bucket=1__old_00000000"]

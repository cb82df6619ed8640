"""Generator tests (SURVEY §2.2): seed determinism that survives
repartitioning, batch shape, referential coherence, order-total
arithmetic — the Spark analog of the reference's
tests/unit/test_producer.py generation contracts."""

from __future__ import annotations

from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark.operators import generate as G


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_same_seed_same_rows_any_partitioning(spark):
    """G1: determinism is f(seed, row-id) — identical output for
    different partition counts and across repeated runs."""
    a = G.gen_products(spark, 50, seed=7)
    b = G.gen_products(spark, 50, seed=7).repartition(13)
    assert _rows(a) == _rows(b)
    c = G.gen_customers(spark, 30, seed=7)
    d = G.gen_customers(spark, 30, seed=7).repartition(5)
    assert _rows(c) == _rows(d)


def test_different_seed_different_rows(spark):
    a = G.gen_products(spark, 20, seed=1).select("name", "price", "category")
    b = G.gen_products(spark, 20, seed=2).select("name", "price", "category")
    assert _rows(a) != _rows(b)


def test_batch_shape_and_coherence(spark):
    """G7: counts match the request; orders reference generated
    customers/products; events reference generated customers."""
    batch = G.generate_batch(spark, 8, 6, 15, 30, seed=11)
    assert batch.products.count() == 8
    assert batch.customers.count() == 6
    assert batch.orders.count() == 15
    assert batch.events.count() == 30

    cust_ids = {r[0] for r in batch.customers.select("customer_id").collect()}
    prod_ids = {r[0] for r in batch.products.select("product_id").collect()}
    assert {r[0] for r in batch.orders.select("customer_id").collect()} <= cust_ids
    assert {r[0] for r in batch.events.select("customer_id").collect()} <= cust_ids
    item_pids = {
        r[0]
        for r in batch.orders.select(
            F.explode("items.product_id").alias("pid")
        ).collect()
    }
    assert item_pids <= prod_ids


def test_product_field_domains(spark):
    rows = G.gen_products(spark, 200, seed=3).collect()
    from ecommerce_realtime_pipeline_spark.schemas import PRODUCT_CATEGORIES

    for r in rows:
        assert r["name"].startswith("Product ")
        assert r["category"] in PRODUCT_CATEGORIES
        assert 2.0 <= float(r["price"]) <= 500.0
        assert 0 <= r["stock_quantity"] <= 500
        desc = r["description"]
        assert desc.endswith(".") and 5 <= len(desc.split(" ")) <= 12


def test_customer_email_derived_from_name(spark):
    rows = G.gen_customers(spark, 100, seed=5).collect()
    for r in rows:
        local, _, domain = r["email"].partition("@")
        assert local == r["name"].lower().replace(" ", ".")
        assert domain in ("example.com", "shop.test", "mail.local")


def test_order_items_and_total(spark):
    """G5/G8: 1–5 items each, every total equals the per-line
    bround-then-sum recomputation, items sorted deterministically."""
    batch = G.generate_batch(spark, 10, 5, 40, 10, seed=13)
    from ecommerce_realtime_pipeline_spark.operators.validation import order_total_check

    checked = order_total_check(batch.orders)
    rows = checked.collect()
    assert all(1 <= len(r["items"]) <= 5 for r in rows)
    assert all(r["total_matches"] for r in rows)


def test_unique_ids(spark):
    batch = G.generate_batch(spark, 50, 50, 50, 50, seed=17)
    for df, col in [
        (batch.products, "product_id"),
        (batch.customers, "customer_id"),
        (batch.orders, "order_id"),
        (batch.events, "event_id"),
    ]:
        n = df.count()
        assert df.select(col).distinct().count() == n


def test_produced_topics_fixture_memoizes_and_matches_real_publish(
    spark, tmp_path, monkeypatch
):
    """The session topic-tree memo must be invisible to consumers:
    (1) the linked tree a `_memo_publisher` caller receives is
    byte-identical to what the real `produce_batch` writes for the
    same spec, with identical counts; (2) the REAL produce runs once
    per (session, spec) — later calls reuse the tree without a new
    publish; (3) a different spec misses the memo."""
    import os

    from ecommerce_realtime_pipeline_spark.plans import gen as GP
    from ecommerce_realtime_pipeline_spark.sources import produce as P

    spec = dict(
        product_count=0, customer_count=7, order_count=0, event_count=0,
        seed=33, n_partitions=2, entities=("customers",),
    )
    real_dir = str(tmp_path / "real")
    real_counts = P.produce_batch(spark, real_dir, **spec)

    calls = {"n": 0}
    real_produce = P.produce_batch

    def counting(*a, **kw):
        calls["n"] += 1
        return real_produce(*a, **kw)

    monkeypatch.setattr(P, "produce_batch", counting)
    linked1 = str(tmp_path / "linked1")
    counts1 = GP._memo_publisher(spark, linked1, **spec)
    linked2 = str(tmp_path / "linked2")
    counts2 = GP._memo_publisher(spark, linked2, **spec)
    assert counts1 == counts2 == real_counts
    assert calls["n"] <= 1  # 0 if an earlier test in this session built it

    # the linked tree is content-identical to a fresh real publish
    # (part-file NAMES carry write UUIDs; consumers read directories,
    # so compare each directory's merged line multiset). consumed_at
    # is the publisher's wall-clock stamp — it differs between ANY two
    # real publishes, so no deterministic query output can depend on
    # it; drop it before comparing.
    import json as _json

    def _dirs(root):
        out = {}
        for dp, _dn, fns in os.walk(root):
            lines = []
            for fn in fns:
                if fn.startswith(("_", ".")):
                    continue
                with open(os.path.join(dp, fn)) as fh:
                    for ln in fh.read().splitlines():
                        rec = _json.loads(ln)
                        rec.pop("consumed_at", None)
                        lines.append(_json.dumps(rec, sort_keys=True))
            if lines:
                out[os.path.relpath(dp, root)] = sorted(lines)
        return out

    assert _dirs(real_dir) == _dirs(linked1)

    # different spec = different memo key = a real publish
    before = calls["n"]
    GP._memo_publisher(
        spark, str(tmp_path / "linked3"),
        **{**spec, "customer_count": 8},
    )
    assert calls["n"] == before + 1


def test_memo_publisher_copies_when_hardlinks_cross_filesystems(
    spark, tmp_path, monkeypatch
):
    """A work dir on another filesystem than the session temp dir makes
    ``os.link`` fail with EXDEV; the memo publisher then copies the
    files instead of crashing, and the caller gets the same tree."""
    import errno
    import os

    from ecommerce_realtime_pipeline_spark.plans import gen as GP

    spec = dict(
        product_count=0, customer_count=7, order_count=0, event_count=0,
        seed=33, n_partitions=2, entities=("customers",),
    )
    linked = str(tmp_path / "linked")
    counts_linked = GP._memo_publisher(spark, linked, **spec)

    def cross_device(src, dst):
        raise OSError(errno.EXDEV, "Invalid cross-device link", src)

    monkeypatch.setattr(os, "link", cross_device)
    copied = str(tmp_path / "copied")
    assert GP._memo_publisher(spark, copied, **spec) == counts_linked

    def tree(root):
        out = {}
        for dp, _dn, fns in os.walk(root):
            for fn in fns:
                with open(os.path.join(dp, fn), "rb") as fh:
                    out[os.path.relpath(os.path.join(dp, fn), root)] = fh.read()
        return out

    assert tree(copied) == tree(linked) and tree(copied)


def test_memo_publisher_rejects_unencodable_kwarg_by_name(
    spark, tmp_path, monkeypatch
):
    """A produce kwarg that cannot be part of the JSON memo key (here a
    metrics accumulator, whose update a memo hit would skip) raises a
    TypeError naming the kwarg, and nothing is published."""
    import pytest

    from ecommerce_realtime_pipeline_spark.plans import gen as GP
    from ecommerce_realtime_pipeline_spark.sources import produce as P

    def must_not_publish(*a, **kw):  # pragma: no cover
        raise AssertionError("an unencodable spec must not be published")

    monkeypatch.setattr(P, "produce_batch", must_not_publish)
    with pytest.raises(TypeError, match="metrics="):
        GP._memo_publisher(
            spark, str(tmp_path / "t"), 0, 3, 0, 0,
            seed=5, metrics=P.ProducerMetrics(),
        )


def test_topics_fixture_rebuild_clears_a_half_built_tree(spark, tmp_path):
    """A builder that crashed after publishing envelopes but before
    writing the counts file leaves a half-built tree. The next build
    must start from an empty tree, not publish on top of the
    leftovers: the fixture then holds exactly the files a real publish
    of the spec writes, with the spec's record counts."""
    import json
    import os
    import shutil

    from ecommerce_realtime_pipeline_spark.plans import fixtures as FX
    from ecommerce_realtime_pipeline_spark.plans import gen as GP
    from ecommerce_realtime_pipeline_spark.sources import produce as P

    spec = dict(
        product_count=0, customer_count=6, order_count=0, event_count=0,
        seed=71, n_partitions=2, entities=("customers",),
    )
    real = str(tmp_path / "real")
    real_counts = P.produce_batch(spark, real, **spec)

    def envelopes(root):
        """relative dir -> (data file count, record count)"""
        out = {}
        for dp, _dn, fns in os.walk(root):
            data = [f for f in fns if not f.startswith(("_", "."))]
            if data:
                lines = 0
                for f in data:
                    with open(os.path.join(dp, f)) as fh:
                        lines += len(fh.read().splitlines())
                out[os.path.relpath(dp, root)] = (len(data), lines)
        return out

    # the crashed builder's leftovers: a published tree plus one stray
    # replayed envelope file, and no counts file
    half = FX.session_path(
        spark, "spark_graft_topics_",
        json.dumps({"repeats": 1, **spec}, sort_keys=True),
    )
    shutil.rmtree(half, ignore_errors=True)
    shutil.copytree(real, half)
    topic_dir, envelope = next(
        (dp, f) for dp, _dn, fns in os.walk(half)
        for f in fns if not f.startswith(("_", "."))
    )
    shutil.copy(
        os.path.join(topic_dir, envelope),
        os.path.join(topic_dir, "stray-" + envelope),
    )

    path, counts = GP._produced_topics_fixture(spark, **spec)
    assert path == half
    assert counts == real_counts
    assert envelopes(path) == envelopes(real)
    assert sum(n for _f, n in envelopes(path).values()) == sum(counts.values())

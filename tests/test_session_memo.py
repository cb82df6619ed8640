"""``session.memo``, the one build-once memo of the session's derived
tables: one build per (session, cache_key, parts), none kept without a
cache_key; and the parquet schema memo ``storage.read_parquet`` keeps
through it, one inference per file version."""

from __future__ import annotations

from types import SimpleNamespace

from ecommerce_realtime_pipeline_spark import session as S
from ecommerce_realtime_pipeline_spark.operators import similarity as SIM


def _session(app_id: str) -> SimpleNamespace:
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def _counting_build():
    builds = []

    def build():
        builds.append(len(builds))
        return f"artifact-{len(builds)}"

    return builds, build


def test_memo_builds_once_per_key(monkeypatch):
    monkeypatch.setattr(S, "_MEMO", {})
    a = _session("app-a")
    builds, build = _counting_build()
    first = S.memo(a, "k", ("f", 1), build)
    assert S.memo(a, "k", ("f", 1), build) == first
    assert len(builds) == 1
    # another cache_key or another shaping parameter is another artifact
    assert S.memo(a, "k2", ("f", 1), build) != first
    assert S.memo(a, "k", ("f", 2), build) != first
    assert len(builds) == 3


def test_memo_rebuilds_per_session(monkeypatch):
    monkeypatch.setattr(S, "_MEMO", {})
    a, b = _session("app-a"), _session("app-b")
    builds, build = _counting_build()
    in_a = S.memo(a, "k", ("f",), build)
    in_b = S.memo(b, "k", ("f",), build)
    assert in_a != in_b and len(builds) == 2
    assert S.memo(a, "k", ("f",), build) == in_a
    assert S.memo(b, "k", ("f",), build) == in_b
    assert len(builds) == 2


def test_memo_without_cache_key_builds_every_call(monkeypatch):
    monkeypatch.setattr(S, "_MEMO", {})
    a = _session("app-a")
    builds, build = _counting_build()
    S.memo(a, None, ("f",), build)
    S.memo(a, None, ("f",), build)
    assert len(builds) == 2
    assert S._MEMO == {}


def test_memo_concurrent_misses_share_one_value(monkeypatch):
    """Threads that miss one key at once may each build, but every
    caller gets the one value stored first."""
    import sys
    import threading
    import time

    monkeypatch.setattr(S, "_MEMO", {})
    a = _session("app-a")
    n = 16
    start = threading.Barrier(n)
    results = [None] * n

    def call(i):
        def build():
            time.sleep(0.001)
            return object()

        start.wait(timeout=10)
        results[i] = S.memo(a, "k", ("f",), build)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=call, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert all(r is results[0] for r in results) and results[0] is not None
    assert S.memo(a, "k", ("f",), object) is results[0]


def test_kmeans_refine_and_loop_keep_apart(spark):
    """``kmeans_refine`` and ``_kmeans_loop`` take the same parameters;
    their memo entries stay apart because each key opens with the
    function name (a shared key would hand the loop the stats frame)."""
    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, float(i)]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    key = "test-kmeans-memo"
    stats = SIM.kmeans_refine(emb, k=2, iters=1, cache_key=key)
    loop = SIM._kmeans_loop(emb, 2, 1, key)
    assert isinstance(loop, tuple) and len(loop) == 2
    assert SIM.kmeans_refine(emb, k=2, iters=1, cache_key=key) is stats
    assert SIM._kmeans_loop(emb, 2, 1, key) is loop


# -- the parquet schema memo of ``storage.read_parquet`` ----------------------


def _jobs(spark) -> int:
    tracker = spark.sparkContext.statusTracker()
    return len(tracker.getJobIdsForGroup(None))


def _write(path, table) -> None:
    import pyarrow.parquet as pq

    pq.write_table(table, str(path))


def test_second_load_table_submits_no_job(spark, sf_dir):
    from ecommerce_realtime_pipeline_spark.catalog import load_table

    load_table(spark, sf_dir, "orders")
    before = _jobs(spark)
    df = load_table(spark, sf_dir, "orders")
    assert _jobs(spark) == before
    assert df.columns


def test_replaced_file_is_reinferred(spark, tmp_path):
    """A new file at the same path is a new memo key, whether it was
    swapped in under a new inode or rewritten in place."""
    import os

    import pyarrow as pa

    from ecommerce_realtime_pipeline_spark import storage

    path = tmp_path / "t.parquet"
    _write(path, pa.table({"a": [1, 2]}))
    assert storage.read_parquet(spark, str(path)).columns == ["a"]

    staged = tmp_path / "staged.parquet"
    _write(staged, pa.table({"a": [1], "b": ["x"]}))
    ino = os.stat(path).st_ino
    os.replace(staged, path)
    assert os.stat(path).st_ino != ino
    swapped = storage.read_parquet(spark, str(path))
    assert swapped.columns == ["a", "b"]
    assert swapped.collect()[0]["b"] == "x"

    ino = os.stat(path).st_ino
    _write(path, pa.table({"c": [1.5, 2.5, 3.5], "d": [True, False, True]}))
    assert os.stat(path).st_ino == ino
    rewritten = storage.read_parquet(spark, str(path))
    assert rewritten.columns == ["c", "d"]
    assert rewritten.count() == 3


def test_concurrent_misses_read_equal_schemas(spark, tmp_path):
    import threading

    import pyarrow as pa

    from ecommerce_realtime_pipeline_spark import storage

    path = str(tmp_path / "t.parquet")
    _write(path, pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}))
    n = 2
    start = threading.Barrier(n)
    schemas = [None] * n

    def read(i):
        start.wait(timeout=30)
        schemas[i] = storage.read_parquet(spark, path).schema

    threads = [threading.Thread(target=read, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in threads)
    assert schemas[0] == schemas[1] == spark.read.parquet(path).schema


def test_load_table_matches_inferred_read(spark, sf_dir):
    """Every testdata table present reads with the same schema and rows
    as a plain inferred read; ``events.ts`` normalizes to a µs
    TIMESTAMP whatever its stored type."""
    import os

    from pyspark.sql import functions as F

    from ecommerce_realtime_pipeline_spark.catalog import TABLES, load_table

    present = [t for t in TABLES if os.path.exists(f"{sf_dir}/{t}.parquet")]
    assert "events" in present
    for name in present:
        got = load_table(spark, sf_dir, name)
        want = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if name == "events":
            ts = dict(want.dtypes)["ts"]
            if ts == "bigint":
                want = want.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000"))
                )
            elif ts == "timestamp_ntz":
                want = want.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
            assert dict(got.dtypes)["ts"] == "timestamp"
        assert got.schema == want.schema, name
        assert sorted(map(repr, got.collect())) == sorted(
            map(repr, want.collect())
        ), name

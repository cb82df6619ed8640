"""SparkSession factory.

Design stance (100 TB): every session pins UTC (oracle parity and
event-time correctness), enables AQE (runtime shuffle-partition
coalescing + skew-join splitting — the knobs that keep a fixed plan
healthy at 1000× data), and enables Arrow for the few Pandas-UDF
operators. Shuffle partitions default to the local core count; on a
real cluster AQE re-coalesces from a deliberately-high initial number.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ecommerce_realtime_pipeline_spark.settings import Settings

DEFAULT_SHUFFLE_PARTITIONS = Settings().cpus


def default_driver_memory() -> str:
    """The driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: a
    quarter of physical memory in whole GiB, at least 2g and at most
    90g, so a driver leaves room for its executors' and neighbours'
    memory on a small machine."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(2, min(90, total // (4 << 30)))}g"


def get_spark(
    app_name: str = "ecommerce_realtime_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) the engine's SparkSession.

    Parameters mirror what a deployment would tune; defaults target the
    local[{cpus}] test environment but the same configs are what we'd
    ship to a 1000-executor cluster (AQE owns runtime parallelism).
    """
    cpus = Settings().cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # reliable checkpoint_mode writes one Dataset.checkpoint copy
        # per materialize(); Spark only deletes superseded reliable
        # checkpoint data when this cleaner flag is on (localCheckpoint
        # blocks are ContextCleaner-reaped regardless), so without it a
        # long iterative job accumulates every iteration's copy
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # explicit scan-split size: 128m input splits keep a scan task's
        # working set well inside executor memory at any SF (tunable via
        # env for clusters with bigger/smaller executors); shuffle-side
        # sizing is AQE's job (coalesce + skew split above).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m"),
        )
        # events.ts is TIMESTAMP(NANOS) parquet, which Spark 4 rejects;
        # read ns as long and convert in catalog.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def materialize(df, eager: bool = True):
    """The engine's checkpoint primitive for iterative operators
    (pagerank's edge table, BPE's per-round seqs, near-dup cluster
    tables): cut lineage and pin the rows so each iteration reads a
    materialized table instead of replaying the chain.

    Mode is ``Settings().checkpoint_mode`` (env
    ``ENGINE_CHECKPOINT_MODE``):

    - ``local`` (default): ``Dataset.localCheckpoint`` — blocks live in
      executor memory/disk. Fastest, and correct on local[n] where the
      "executors" share the driver process; but on a real cluster the
      blocks are NOT replicated, so losing one executor past the
      checkpoint kills the job (no lineage left to recompute from).
    - ``reliable``: ``Dataset.checkpoint`` — blocks are written to the
      SparkContext checkpoint directory (HDFS/object store in
      production; a temp dir is auto-assigned here if unset) and
      survive executor loss. Costs a write+read round-trip per
      materialization; at 100 TB this is what the long iterative jobs
      (multi-hour pagerank, deep clustering chains) should run with.

    Both primitives surface as a LogicalRDD that preserves
    outputPartitioning only when AQE was disabled at creation time —
    callers that rely on a carried partitioning (the pagerank edge
    table) already wrap the call in an AQE-off scope, which applies
    identically to both modes.

    The mode string is VALIDATED (a typo'd ``ENGINE_CHECKPOINT_MODE``
    like ``Reliable``/``durable`` must fail loudly, not silently fall
    back to the non-durable local mode on exactly the long cluster
    jobs the knob exists for). Superseded reliable-checkpoint data is
    cleaner-reaped (``spark.cleaner.referenceTracking.cleanCheckpoints``
    in :func:`get_spark`), and an auto-assigned local checkpoint dir
    is removed at interpreter exit.
    """
    mode = Settings().checkpoint_mode.strip().lower()
    if mode not in ("local", "reliable"):
        raise ValueError(
            f"ENGINE_CHECKPOINT_MODE={Settings().checkpoint_mode!r} is not "
            "a checkpoint mode; use 'local' (Dataset.localCheckpoint — "
            "fast, dies with executors) or 'reliable' "
            "(Dataset.checkpoint to the checkpoint dir — survives "
            "executor loss)"
        )
    if mode != "reliable":
        return df.localCheckpoint(eager=eager)
    spark = df.sparkSession
    sc = spark.sparkContext
    if sc.getCheckpointDir() is None:
        import atexit
        import shutil
        import tempfile

        ckpt_dir = tempfile.mkdtemp(prefix="spark_graft_reliable_ckpt_")
        sc.setCheckpointDir(ckpt_dir)
        # the auto-assigned dir is a convenience for local runs (a
        # cluster sets an HDFS/object-store URI before any job);
        # nothing else ever removes it, so tie its lifetime to the
        # interpreter
        atexit.register(shutil.rmtree, ckpt_dir, ignore_errors=True)
    return df.checkpoint(eager=eager)


#: the build-once artifacts of :func:`memo`, by
#: (applicationId, cache_key, *parts)
_MEMO: dict[tuple, object] = {}


def memo(spark, cache_key: str | None, parts: tuple, build):
    """The one memo for the session's derived tables (IVF quantizer
    and cells, PQ codes, k-means, the kNN graph, BPE training, the
    near-dup cluster table): build once, serve many. With
    ``cache_key=None`` it returns ``build()``; otherwise it builds once
    per ``(applicationId, cache_key, *parts)`` and returns the stored
    value afterwards. ``parts`` opens with the caller's function name
    and holds every parameter that shapes the result. The application
    id scopes an entry to the session that built it (a
    localCheckpoint is only readable there); whether and where a result
    is pinned is the caller's ``build``. Two threads that miss at once
    both build, and ``setdefault`` keeps the first value stored, so
    every caller of one key gets the same artifact."""
    if cache_key is None:
        return build()
    key = (spark.sparkContext.applicationId, cache_key, *parts)
    value = _MEMO.get(key)
    if value is None:
        value = _MEMO.setdefault(key, build())
    return value


#: in-flight thunks of :func:`overlapped`: two jobs fill one job's
#: stage tail without fighting the other for executors
OVERLAP_WIDTH = 2


def overlapped(*thunks) -> list:
    """Run independent Spark actions (writes, checkpoints, counts)
    from a small thread pool, so one job's task tail back-fills with
    the next job's tasks instead of the driver submitting them one by
    one. Returns the results in submission order. Every thunk settles
    before an error unwinds (no job is left racing the caller's
    cleanup); then the first failure is raised, with later failures
    chained on its ``__context__``. Zero or one thunk runs inline."""
    if len(thunks) <= 1:
        return [t() for t in thunks]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=OVERLAP_WIDTH) as pool:
        futures = [pool.submit(t) for t in thunks]
    results, first_exc = [], None
    for f in futures:
        exc = f.exception()
        if exc is None:
            results.append(f.result())
        elif first_exc is None:
            first_exc = exc
        else:
            exc.__context__ = first_exc.__context__
            first_exc.__context__ = exc
    if first_exc is not None:
        raise first_exc
    return results

"""Session-shared fixture directories for the registered queries (the
persisted indexes the serving queries read and the produced topic
trees the pipeline queries ingest), the build-once index fixtures
themselves (:func:`index_fixture` and its ``persisted_*``,
``merged_*``, ``ivf_*`` paths), the memoized topic tree
(:func:`produced_topics_fixture`, :func:`memo_publisher`), and the
harness every fixture query runs through: :func:`scratch_dir` for its
temp directories, :func:`pinned_conf` for its session-conf pins,
:func:`await_run` for its checked stream runs, and
:func:`run_batches` plus the envelope writer for its hand-built
JSON-lines stream sources.

A fixture path is keyed on the Spark application id plus a caller key,
so every query in one session shares one build, and a new session (a
fresh bench or oracle invocation) always rebuilds from its inputs:
fixture reuse never crosses a process or run boundary, which would be
cross-run result caching. Paths are reaped at interpreter exit.
"""

from __future__ import annotations

import atexit
import hashlib
import json
import os
import shutil
import tempfile
import threading
import time
from collections.abc import Callable, Iterable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark import storage
from ecommerce_realtime_pipeline_spark.operators import indexfmt
from ecommerce_realtime_pipeline_spark.operators import similarity as SIM
from ecommerce_realtime_pipeline_spark.operators import text as TX
from ecommerce_realtime_pipeline_spark.session import overlapped
from ecommerce_realtime_pipeline_spark.sources import produce as P

#: fixture dirs created by THIS process, removed at interpreter exit —
#: session-scoped paths are never reused by a later invocation, so
#: leaving them would only fill the temp dir
_SESSION_DIRS: set[str] = set()


def _reap_session_dirs() -> None:  # pragma: no cover - exit hook
    for d in _SESSION_DIRS:
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_reap_session_dirs)


def session_path(spark: SparkSession, prefix: str, key: str) -> str:
    """Temp-dir path unique to (this Spark application, ``key``),
    registered for removal at interpreter exit."""
    app_id = spark.sparkContext.applicationId
    path = os.path.join(
        tempfile.gettempdir(),
        prefix + hashlib.md5(f"{app_id}|{key}".encode()).hexdigest()[:12],
    )
    _SESSION_DIRS.add(path)
    return path


def stamped_path(
    spark: SparkSession, sf_dir: str, src_name: str, prefix: str
) -> str:
    """:func:`session_path` keyed on the source file's size and mtime
    as well, so a regenerated corpus invalidates the fixture instead of
    serving stale state (production tracks a source snapshot id in the
    index manifest instead)."""
    try:
        st = os.stat(os.path.join(sf_dir, src_name))
        key = f"{sf_dir}|{st.st_size}|{st.st_mtime_ns}"
    except OSError:
        key = sf_dir
    return session_path(spark, prefix, key)


#: per-path in-process build locks: two threads must not interleave one
#: fixture's build sequence, while builds of UNRELATED fixtures (e.g.
#: the hybrid queries' text and IVF deleted indexes) may overlap
_PATH_LOCKS: dict[str, threading.Lock] = {}
_PATH_LOCKS_GUARD = threading.Lock()

#: a crashed builder's leftover build lock is broken after this many
#: seconds (a full build at any test SF is well under it)
BUILD_LOCK_STALE_SECONDS = 900.0


def _path_lock(path: str) -> threading.Lock:
    with _PATH_LOCKS_GUARD:
        return _PATH_LOCKS.setdefault(path, threading.Lock())


def build_once(path: str, ready, build) -> None:
    """Build the fixture at ``path`` unless ``ready(path)`` holds, once
    across threads AND processes (a sweep beside a pytest run must not
    interleave a multi-flip build+delete sequence, which could land a
    manifest generation history the time-travel serves do not expect).
    The builder holds a ``<path>.build-lock`` :func:`storage.try_lock`
    file, broken after ``BUILD_LOCK_STALE_SECONDS``; other callers poll
    ``ready`` and never mutate, so a ready fixture stays immutable for
    the rest of every session. A half-built tree is cleared and
    rebuilt, never served."""
    with _path_lock(path):
        if ready(path):
            return
        lockfile = f"{path}.build-lock"
        while not storage.try_lock(lockfile, BUILD_LOCK_STALE_SECONDS):
            if ready(path):
                return  # the other process finished; the lock is theirs
            time.sleep(1.0)
        try:
            if not ready(path):
                shutil.rmtree(path, ignore_errors=True)
                build(path)
        finally:
            try:
                os.remove(lockfile)
            except OSError:
                pass


#: the source table each index format is built from — the file whose
#: size and mtime stamp a fixture's path (:func:`stamped_path`)
_FIXTURE_SOURCE = {
    TX.TEXT_INDEX_FORMAT: "documents.parquet",
    TX.POS_INDEX_FORMAT: "documents.parquet",
    SIM.IVF_INDEX_FORMAT: "embeddings.parquet",
}


def index_fixture(
    spark: SparkSession,
    sf_dir: str,
    fmt: str,
    prefix: str,
    shape: tuple[int, int, bool],
    *steps,
) -> str:
    """Build-once path of a session-shared index fixture: the index of
    format ``fmt`` over ``sf_dir``'s source table, keyed on the app id
    and the source's size and mtime (:func:`stamped_path`).
    ``steps`` run in order on the fixture path — a build, then any
    merge or delete — and land the pinned generation history ``shape``
    = (live version, live segments, live tombstones?): (1, 1, False)
    for a plain build, (2, 1, True) for build + delete, where v1 is
    what ``version=1`` time travel serves, (2, 2, False) for build +
    merge. The ready check requires exactly that shape, so a
    half-built tree from a crashed process is cleared and rebuilt,
    never served (:func:`build_once`, which also keeps a
    concurrent process from interleaving a multi-flip build), and a
    build that lands any other shape fails loudly. Fixtures are
    serving-only: a query that mutates an index takes a
    :func:`mutable_index_copy`."""
    path = stamped_path(spark, sf_dir, _FIXTURE_SOURCE[fmt], prefix)

    def ready(p):
        if not indexfmt.has_index(p):
            return False
        m = indexfmt.read_manifest(p, fmt)
        got = (int(m["version"]), len(m["segments"]), bool(m.get("tombstones")))
        return got == shape

    def build(p):
        for step in steps:
            step(p)

    build_once(path, ready, build)
    if not ready(path):
        raise RuntimeError(
            f"index fixture {path} did not land as (version, segments, "
            f"tombstones) {shape}"
        )
    return path


def persisted_ivf_path(spark: SparkSession, sf_dir: str, emb: DataFrame) -> str:
    """The full-corpus IVF index, shared by every query that SERVES
    from the canonical index (`emb_knn_ivf_persisted`,
    `emb_ivf_index_health`)."""
    return index_fixture(
        spark, sf_dir, SIM.IVF_INDEX_FORMAT, "spark_graft_ivf_", (1, 1, False),
        lambda p: SIM.write_ivf_index(emb, p, cache_key=f"{sf_dir}/embeddings"),
    )


def persisted_text_path(
    spark: SparkSession, sf_dir: str, docs: DataFrame
) -> str:
    """The full-corpus TEXT index — the BM25 twin of
    `persisted_pos_path`, for queries that SERVE from the canonical
    index."""
    return index_fixture(
        spark, sf_dir, TX.TEXT_INDEX_FORMAT, "spark_graft_text_", (1, 1, False),
        lambda p: TX.write_text_index(docs, p),
    )


def persisted_ivf_deleted_path(
    spark: SparkSession, sf_dir: str, emb: DataFrame
) -> str:
    """Full IVF index + odd vec_ids tombstoned, shared by the
    deleted/hybrid/time-travel serving family: v1 = the full-corpus
    build (what ``version=1`` time travel serves), v2 = live
    tombstones on the odd ids (what the masked serves read)."""
    return index_fixture(
        spark, sf_dir, SIM.IVF_INDEX_FORMAT, "spark_graft_ivfdel_", (2, 1, True),
        lambda p: SIM.write_ivf_index(emb, p, cache_key=f"{sf_dir}/embeddings"),
        lambda p: SIM.delete_from_ivf_index(
            emb.filter(F.col("vec_id") % 2 == 1).select("vec_id"), p
        ),
    )


def persisted_text_deleted_path(
    spark: SparkSession, sf_dir: str, docs: DataFrame
) -> str:
    """Text twin of :func:`persisted_ivf_deleted_path`: full-corpus
    ``write_text_index`` + odd doc_ids tombstoned. v1 = full build
    (time travel), v2 = live tombstones (masked BM25 serves with
    deliberately-stale idf/avgdl — the documented Lucene semantics)."""
    return index_fixture(
        spark, sf_dir, TX.TEXT_INDEX_FORMAT, "spark_graft_textdel_", (2, 1, True),
        lambda p: TX.write_text_index(docs, p),
        lambda p: TX.delete_from_text_index(
            docs.filter(F.col("doc_id") % 2 == 1).select("doc_id"), p
        ),
    )


def persisted_pos_deleted_path(
    spark: SparkSession, sf_dir: str, docs: DataFrame
) -> str:
    """Positional twin of :func:`persisted_text_deleted_path`: full
    ``write_positional_index`` + every doc_id ≡ 0 (mod 7) tombstoned
    (the family's delete-gate fixture shape). v1 = full build, v2 =
    live tombstones."""
    return index_fixture(
        spark, sf_dir, TX.POS_INDEX_FORMAT, "spark_graft_posdel_", (2, 1, True),
        lambda p: TX.write_positional_index(docs, p),
        lambda p: TX.delete_from_positional_index(
            docs.filter(F.col("doc_id") % 7 == 0).select("doc_id"), p
        ),
    )


def deleted_fixture_pair(
    spark: SparkSession, sf_dir: str, docs: DataFrame, emb: DataFrame
) -> tuple[str, str]:
    """Both deleted serving fixtures (text + IVF) for the hybrid
    queries, built CONCURRENTLY when cold (the two build+delete
    sequences are independent multi-job chains; submitting
    them from a 2-thread pool lets one build's task tail back-fill with
    the other's tasks instead of serializing the two builds). Warm
    path: both submits return immediately off the session memo, so the
    pool costs microseconds. The per-path build locks are what make
    the overlap real."""
    return tuple(
        overlapped(
            lambda: persisted_text_deleted_path(spark, sf_dir, docs),
            lambda: persisted_ivf_deleted_path(spark, sf_dir, emb),
        )
    )


#: per-topic publish counts of a memoized topic tree; written last, so
#: its presence marks the tree complete
_COUNTS_FILE = "_counts.json"


def produced_topics_fixture(
    spark: SparkSession, repeats: int = 1, **produce_kw
) -> tuple[str, dict[str, int]]:
    """Session-memoized produced-topics fixture: the per-query SOURCE
    fixtures repeat across the streaming family.

    Builds the seeded topic tree ONCE per (Spark application id, spec)
    by running the REAL ``P.produce_batch`` (``repeats``× into the same
    dir for replayed-offset fixtures) under a :func:`session_path`,
    records the returned per-topic counts, and hands every later caller
    the same READ-ONLY directory + counts. The tree is a pure function
    of the spec (seeded generator, deterministic partition/offset
    assignment), so reuse changes no query's input bytes. The produce
    code path itself stays gated: the first call per session runs it
    for real, and ``gen.produce_envelopes_shape`` re-runs the envelope
    pass in-plan every time.

    The spec is the memo key, so every ``produce_kw`` value must be
    JSON-encodable; anything else (a ``metrics=`` accumulator, a
    ``Settings``) raises a ``TypeError`` naming the kwarg — memoizing it
    would, on a hit, silently skip the side effect the caller asked
    for."""
    for name, value in produce_kw.items():
        try:
            json.dumps(value)
        except TypeError:
            raise TypeError(
                f"memoized produce cannot take {name}={value!r}: the spec "
                "is the memo key and must be JSON-encodable; call "
                "produce_batch directly for this publish"
            ) from None
    key = json.dumps({"repeats": repeats, **produce_kw}, sort_keys=True)
    path = session_path(spark, "spark_graft_topics_", key)
    counts_file = os.path.join(path, _COUNTS_FILE)

    def build(p: str) -> None:
        os.makedirs(p, exist_ok=True)
        counts: dict[str, int] = {}
        for _ in range(repeats):
            counts = P.produce_batch(spark, p, **produce_kw)
        storage.replace_file(p, _COUNTS_FILE, json.dumps(counts))

    build_once(path, lambda p: os.path.exists(counts_file), build)
    with open(counts_file) as fh:
        return path, json.load(fh)


def link_or_copy(src: str, dst: str) -> None:
    """Hardlink ``src`` to ``dst``; copy when linking fails (e.g. EXDEV:
    the session temp dir and the caller's work dir sit on different
    filesystems)."""
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


def memo_publisher(spark: SparkSession, topics_dir: str, *counts, **kw):
    """Drop-in ``produce_batch`` replacement for fixture pipelines:
    resolve the memoized topic tree for this spec and HARDLINK it into
    the caller's work dir (the envelope files are immutable inputs;
    linking ~a dozen KB-files is sub-millisecond against the ~2 s
    publish it replaces on a warm session). Returns the recorded
    counts — byte-identical to what the real publish returned when the
    fixture was built."""
    product_count, customer_count, order_count, event_count = (
        list(counts) + [None] * (4 - len(counts))
    )[:4]
    src, published = produced_topics_fixture(
        spark,
        product_count=kw.pop("product_count", product_count),
        customer_count=kw.pop("customer_count", customer_count),
        order_count=kw.pop("order_count", order_count),
        event_count=kw.pop("event_count", event_count),
        **kw,
    )
    shutil.copytree(
        src,
        topics_dir,
        copy_function=link_or_copy,
        dirs_exist_ok=True,
        ignore=shutil.ignore_patterns(f"{_COUNTS_FILE}*", "*.build-lock"),
    )
    return dict(published)


@contextmanager
def scratch_dir(prefix: str) -> Iterator[str]:
    """A fresh temp directory for one query's private index, stream
    source, checkpoint or sink, removed when the block exits, on error
    too."""
    tmp = tempfile.mkdtemp(prefix=prefix)
    try:
        yield tmp
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@contextmanager
def mutable_index_copy(base: str, prefix: str) -> Iterator[str]:
    """Private MUTABLE copy of a session-shared index fixture, for
    queries whose point is the mutation itself (compact, delete,
    policy retrain): copy the memoized base instead of re-running its
    multi-job build — the manifests store path-RELATIVE child names
    (test-pinned in test_indexfmt), so an index directory is
    relocatable byte-for-byte, and the shipped fixtures are ≤ a few
    MB, so the copy is milliseconds against the multi-second build it
    replaces. Yields the copy's index path inside a
    :func:`scratch_dir`, so the copy is gone when the block exits; a
    query returns a ``localCheckpoint(eager=True)`` frame from inside
    the block."""
    with scratch_dir(prefix) as tmp:
        path = os.path.join(tmp, "index")
        shutil.copytree(base, path)
        yield path


def ivf_even_path(spark: SparkSession, sf_dir: str, emb: DataFrame) -> str:
    """The HALF-CORPUS (even vec_ids) IVF index — the frozen-quantizer
    base every drift-family fixture starts from. The even-trained
    quantizer itself is additionally memoized under the ``#even``
    cache key, shared with the oracle chain."""
    return index_fixture(
        spark, sf_dir, SIM.IVF_INDEX_FORMAT, "spark_graft_ivfeven_", (1, 1, False),
        lambda p: SIM.write_ivf_index(
            emb.filter(F.col("vec_id") % 2 == 0),
            p,
            cache_key=f"{sf_dir}/embeddings#even",
        ),
    )


def ivf_drifted_path(spark: SparkSession, sf_dir: str, emb: DataFrame) -> str:
    """The DRIFTED IVF index — quantizer frozen on the even half, odd
    half merged in under it (v1 = even build, v2 = odd-batch segment
    append). This exact 2-segment state is the shared prefix of the
    whole drift family (`emb_knn_ivf_merged` serves it as-is;
    requantize/policy queries take a :func:`mutable_index_copy` and
    retrain their own copy)."""
    return index_fixture(
        spark, sf_dir, SIM.IVF_INDEX_FORMAT, "spark_graft_ivfdrift_", (2, 2, False),
        lambda p: shutil.copytree(ivf_even_path(spark, sf_dir, emb), p),
        lambda p: SIM.merge_ivf_index(emb.filter(F.col("vec_id") % 2 == 1), p),
    )


def merged_text_path(spark: SparkSession, sf_dir: str, docs: DataFrame) -> str:
    """The MERGED text index — even doc_ids built, odd doc_ids merged
    as a second immutable segment (v1 = build, v2 = merge). The shared
    prefix of the merge-lifecycle family: `docs_bm25_index_merge`
    serves it as-is; compaction/stats queries mutate a
    :func:`mutable_index_copy`."""
    return index_fixture(
        spark, sf_dir, TX.TEXT_INDEX_FORMAT, "spark_graft_textmrg_", (2, 2, False),
        lambda p: TX.write_text_index(docs.filter(F.col("doc_id") % 2 == 0), p),
        lambda p: TX.merge_text_index(docs.filter(F.col("doc_id") % 2 == 1), p),
    )


def merged_pos_median_path(
    spark: SparkSession, sf_dir: str, docs: DataFrame
) -> str:
    """The MEDIAN-SPLIT positional index: first half of the doc_id
    range built, second half merged as a second segment —
    `docs_phrase_search_indexed`'s fixture shape (v1 = build, v2 =
    merge)."""
    def build(p):
        mid = docs.agg(
            F.percentile_approx("doc_id", 0.5, 10000).alias("m")
        ).collect()[0]["m"]
        TX.write_positional_index(docs.filter(F.col("doc_id") <= mid), p)
        TX.merge_positional_index(docs.filter(F.col("doc_id") > mid), p)

    return index_fixture(
        spark, sf_dir, TX.POS_INDEX_FORMAT, "spark_graft_posmrg_", (2, 2, False),
        build,
    )


def merged_pos_evenodd_path(
    spark: SparkSession, sf_dir: str, docs: DataFrame
) -> str:
    """The EVEN/ODD merged positional index (even doc_ids built, odd
    merged — the `docs_pos_index_stats` lifecycle prefix, v1 = build,
    v2 = merge); its consumer deletes on a :func:`mutable_index_copy`."""
    return index_fixture(
        spark, sf_dir, TX.POS_INDEX_FORMAT, "spark_graft_posmeo_", (2, 2, False),
        lambda p: TX.write_positional_index(docs.filter(F.col("doc_id") % 2 == 0), p),
        lambda p: TX.merge_positional_index(docs.filter(F.col("doc_id") % 2 == 1), p),
    )


def persisted_pos_path(spark: SparkSession, sf_dir: str, docs: DataFrame) -> str:
    """The full-corpus POSITIONAL index — the positional twin of
    `persisted_ivf_path`, for queries that SERVE from the canonical
    index (:func:`index_fixture`)."""
    return index_fixture(
        spark, sf_dir, TX.POS_INDEX_FORMAT, "spark_graft_pos_", (1, 1, False),
        lambda p: TX.write_positional_index(docs, p),
    )


#: arrival time of the hand-built fixture envelopes
CONSUMED_AT = "2025-03-01T10:00:00Z"


def envelope_line(
    topic: str, offset: int, key: str, payload: dict, consumed_at: str = CONSUMED_AT
) -> str:
    """One ``RAW_ENVELOPE_SCHEMA`` JSON line on partition 0, with the
    payload JSON-encoded as a string (the Kafka message value)."""
    return json.dumps(
        {
            "topic": topic,
            "topic_partition": 0,
            "topic_offset": offset,
            "message_key": key,
            "payload": json.dumps(payload),
            "consumed_at": consumed_at,
        }
    )


def write_jsonl(dir: str, name: str, lines) -> None:
    """Write ``lines`` as the JSON-lines file ``dir/name`` (one record
    per line, newline-terminated), creating ``dir`` if needed."""
    os.makedirs(dir, exist_ok=True)
    with open(os.path.join(dir, name), "w") as f:
        f.write("\n".join(lines) + "\n")


@contextmanager
def pinned_conf(spark: SparkSession, conf: dict[str, str]) -> Iterator[None]:
    """Set each session conf of ``conf`` for the block and restore the
    previous values when it exits, on error too. A fixture stream's
    fresh checkpoint freezes its state-store count from
    ``spark.sql.shuffle.partitions`` at creation; at the session
    default (32-200) that is dozens of state-store providers per
    stateful operator per run, pure overhead for a ~dozen-row fixture
    (measured 18 s → 3 s on the stream-stream join), so the fixtures
    pin it low (:data:`STATE_PARTITIONS`)."""
    old = {key: spark.conf.get(key) for key in conf}
    try:
        for key, value in conf.items():
            spark.conf.set(key, value)
        yield
    finally:
        for key, value in old.items():
            spark.conf.set(key, value)


#: the shuffle-partition pin of the streaming fixtures' runs
STATE_PARTITIONS = {"spark.sql.shuffle.partitions": "4"}


def await_run(q, what: str) -> None:
    """Wait for the ``availableNow`` run ``q`` to finish, with the
    result CHECKED: a run still going after 120 s is stopped and
    raises ``TimeoutError``, so a hung fixture fails loudly instead of
    letting the query read a partial sink and hash-mismatch downstream
    with no hint of why."""
    if not q.awaitTermination(120):
        q.stop()
        raise TimeoutError(f"{what} did not terminate within 120s")


def run_batches(
    src: str, batches: Iterable[Iterable[str]], start: Callable[[], object],
    what: str,
) -> list:
    """Land each batch of JSON lines as the file ``src/b<i>.json`` and,
    after each, run the stream ``start()`` starts to completion
    (:func:`await_run`). The runs share ``start``'s checkpoint, so the
    file source's exactly-once tracking makes each run read only the
    new file. Returns the started queries, in order."""
    runs = []
    for i, lines in enumerate(batches):
        write_jsonl(src, f"b{i}.json", lines)
        q = start()
        await_run(q, what)
        runs.append(q)
    return runs

"""Versioned-manifest index layout and segment-and-tombstone lifecycle
shared by the three persisted index families: BM25 text and positional
(:mod:`.text`) and IVF (:mod:`.similarity`) — the Lucene segments_N /
Iceberg-metadata pattern applied to every search-index lifecycle.

An index directory holds IMMUTABLE child directories (postings/cell
segments, tombstone sets, dfreq/stats/centroids/doc-id sidecar tables)
plus ONE pointer file, ``_CURRENT``: a JSON manifest naming exactly
which children form the live index. Every mutation (merge, delete,
compact) writes NEW children and then atomically replaces the pointer
— so a crash at ANY point leaves either the old manifest (fully intact
old index, plus orphan directories nobody references) or the new one
(fully intact new index). Torn states are structurally impossible:
there is no window in which a reader can observe half-swapped
partitions, and a crashed merge needs no recovery beyond re-running
it. The file-level steps (pointer replace, writer lock) are the shared
ones in :mod:`ecommerce_realtime_pipeline_spark.storage`.

The lifecycle steps every family shares live here, so the segment
layout, the tombstone format and the delete policy have one home:

- :func:`write_segment` is the one partitioned segment write: it
  reads the partition values back from the written layout and refuses
  a NULL/empty key there;
- :func:`build` runs a family's build body into a stage and publishes
  it as version 1;
- :func:`read_live` opens a union of children with the live
  tombstones anti-joined on the family's id column
  (:func:`mask_tombstones` is the mask alone, for the seek readers);
- :func:`delete_ids` commits a tombstone child and applies the
  deleted-ratio compaction policy;
- :func:`commit_fold` is the compaction tail: refuse an empty fold,
  flip the manifest, vacuum.

A family passes only what differs: its id column (``doc_id`` or
``neighbor_id``), the id plane the ratio counts (the ``docs`` sidecar
or the segments), and its own metadata tables. :func:`required` reads
a key every current writer of a format records, and refuses by name a
manifest that lacks it.

On an object store the ``os.replace`` pointer flip becomes a
conditional PUT of the manifest object — the same design carries over
unchanged, which is exactly why Iceberg/Delta/Lucene all converge on
it. Orphans are reclaimed by :func:`vacuum`.

GENERATION RETENTION (the concurrent-reader grace window): every
pointer flip first preserves the superseded manifest as an immutable
``_GEN-<version>`` snapshot, and :func:`vacuum` spares children
referenced by ANY retained generation — so a reader that resolved the
previous manifest keeps a complete index for as long as its
generation is retained, even across an inline post-merge compaction
(the Iceberg snapshot-expiry model: ``expire_snapshots`` then
``remove_orphan_files``). The horizon is ``KEEP_GENERATIONS``
superseded snapshots (pruned oldest-first at flip time); production
would widen it to a wall-clock retention matched to the longest
query, but the mechanism is identical.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ecommerce_realtime_pipeline_spark import storage

#: the pointer file: the ONLY mutable name in an index directory
MANIFEST = "_CURRENT"

#: retained superseded-manifest snapshots (``_GEN-<version>`` files).
#: 2 because ONE logical operation can flip twice: a merge whose
#: ``max_segments`` policy triggers an inline compaction commits the
#: merge (flip 1) then the compaction (flip 2) — a reader that
#: resolved the pre-merge manifest is two generations behind by the
#: time the compaction's vacuum runs, and its metadata tables
#: (dfreq/stats, superseded at EVERY flip) must still be spared.
#: Raise further for longer-running readers.
KEEP_GENERATIONS = 2

#: superseded-manifest snapshot prefix, followed by the generation's
#: integer version (``_GEN-3``)
GEN_PREFIX = "_GEN-"

#: writer lock file guarding the snapshot+flip critical section of
#: :func:`write_manifest`
LOCK = "_LOCK"

#: a lock older than this is treated as a crashed writer's leftover
#: and broken. The critical section is a few file writes
#: (milliseconds) — 300 s is orders of magnitude of headroom while
#: still letting maintenance resume automatically after a crash.
STALE_LOCK_SECONDS = 300.0


def new_dir_name(prefix: str) -> str:
    """Collision-free immutable child name (``seg-<hex>``)."""
    return f"{prefix}-{uuid.uuid4().hex[:12]}"


#: paths with a URI scheme (s3://, hdfs://, file:/ …) — these must be
#: probed through Hadoop's FileSystem, not the driver's local os.path.
#: The scheme must be ≥2 chars: a single letter before ':' is a
#: Windows drive path (``C:\data\idx``), which belongs on the local
#: os.path branch, not the Hadoop one (every real URI scheme — s3,
#: s3a, gs, abfss, hdfs, file, wasb — is ≥2 letters)
_SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]+:")


def dir_exists(spark, path: str) -> bool:
    """Existence probe behind every term/cell-directory SEEK reader
    (``text.seek_text_postings`` / ``text.seek_positional_tokens`` /
    ``similarity.seek_ivf_cells``) —
    deploy-target-safe by construction: a scheme-less path takes the
    local ``os.path`` branch (the default on this test rig), anything
    carrying a URI scheme (``s3://…``, ``hdfs://…``, ``file:/…``)
    goes through Hadoop's ``FileSystem.exists`` via the session JVM —
    one HEAD-class request per probe on an object store, the cost the
    seek docstrings price. Without this split, an ``os.path.exists``
    probe on an ``s3://`` path silently returns False for EVERY
    directory and the seek reader returns an empty frame instead of
    the postings — a correctness cliff keyed on the deploy target."""
    if not _SCHEME.match(path):
        return os.path.exists(path)
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


#: above this many candidate directories per segment, the seek
#: readers switch from per-directory HEAD probes to ONE listing of
#: the segment (see :func:`existing_dirs`)
SEEK_LIST_THRESHOLD = 8


def existing_dirs(spark, parent: str, names: list[str]) -> list[str]:
    """Which of ``parent/<name>`` exist, in input order — the seek
    readers' BATCHED existence probe: a per-(term, segment)
    ``dir_exists`` loop would serialize k·segments HEAD round-trips
    of ~20-50 ms each on an object store — a 20-term query over 8
    segments is ~160 serial driver round-trips. Short
    lists (≤ ``SEEK_LIST_THRESHOLD``) keep per-directory HEAD
    semantics — one HEAD beats a LIST of a segment with thousands of
    term directories; longer lists pay ONE ``listStatus`` (Hadoop) /
    ``os.listdir`` (local) of the parent and test membership, so the
    probe cost is min(|names| HEADs, 1 LIST) per segment regardless
    of query width. Duplicates are collapsed."""
    names = list(dict.fromkeys(names))
    if len(names) <= SEEK_LIST_THRESHOLD:
        return [n for n in names if dir_exists(spark, f"{parent}/{n}")]
    if not _SCHEME.match(parent):
        try:
            present = set(os.listdir(parent))
        except (FileNotFoundError, NotADirectoryError):
            return []
        return [n for n in names if n in present]
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(parent)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return []
    present = {st.getPath().getName() for st in fs.listStatus(hpath)}
    return [n for n in names if n in present]


def has_index(path: str) -> bool:
    return os.path.exists(os.path.join(path, MANIFEST))


def read_manifest(
    path: str, expect_format: str, version: int | None = None
) -> dict:
    """Resolve the live manifest — or, with ``version``, a RETAINED
    older generation (time travel within the retention horizon: the
    Iceberg snapshot-read model — audits, incident forensics, A/B of
    an index mutation). Refuses a directory that is not a published
    index of the expected format (missing/foreign pointer), and an
    expired/unknown version with the retained set in the message."""
    try:
        with open(os.path.join(path, MANIFEST)) as fh:
            m = json.load(fh)
    except FileNotFoundError:
        raise ValueError(
            f"no {expect_format} at {path}: the {MANIFEST} pointer is "
            "missing — either nothing was ever published here or the "
            "directory is not an index; build one with the writer "
            "(write_text_index / write_ivf_index)"
        ) from None
    if version is not None and int(m.get("version", -1)) != version:
        gens = {int(g.get("version", -1)): g for g in retained_manifests(path)}
        if version not in gens:
            raise ValueError(
                f"index at {path} has no retained generation {version}; "
                f"retained: {sorted(gens)} (older generations were "
                "pruned past KEEP_GENERATIONS — widen the horizon for "
                "longer time travel)"
            )
        m = gens[version]
    if m.get("format") != expect_format:
        raise ValueError(
            f"index at {path} is format {m.get('format')!r}, expected "
            f"{expect_format!r}"
        )
    return m


class ConcurrentWriterError(RuntimeError):
    """A second mutator targeted the same index path while another
    writer held the ``_LOCK`` — the loser fails LOUDLY here instead of
    interleaving with the winner and silently voiding generation
    retention."""


def _acquire_writer_lock(path: str) -> str:
    """Best-effort single-writer guard for the snapshot+flip critical
    section: a :func:`storage.try_lock` lock file (on an object store
    this becomes a conditional PUT, same as the pointer flip itself),
    broken after ``STALE_LOCK_SECONDS`` as a crashed writer's
    leftover. Raises :class:`ConcurrentWriterError` when a live writer
    holds it."""
    lock = os.path.join(path, LOCK)
    if not storage.try_lock(lock, STALE_LOCK_SECONDS):
        raise ConcurrentWriterError(
            f"index at {path} has a live writer lock ({LOCK}): "
            "merge/delete/compact are single-writer operations — "
            "serialize mutators"
        )
    return lock


def write_manifest(path: str, manifest: dict) -> None:
    """Atomic pointer flip — the single commit point of every index
    mutation. Before the flip, the superseded manifest (if any) is
    preserved as an immutable ``_GEN-<version>`` snapshot and the
    snapshot set is pruned oldest-first to ``KEEP_GENERATIONS`` — the
    retention horizon :func:`vacuum` honors, so a concurrent reader
    holding the previous generation keeps its files through the next
    flip+vacuum.

    SINGLE WRITER ENFORCED (readers unlimited): the read-old →
    snapshot → flip sequence is not atomic as a whole, so two
    concurrent writers could interleave such that one superseded
    manifest never lands as a ``_GEN`` snapshot — quietly voiding the
    retention guarantee above. The sequence therefore runs under an
    ``O_EXCL`` lock file (:func:`_acquire_writer_lock`): a racing
    second mutator fails loudly with :class:`ConcurrentWriterError`
    instead, and a crashed writer's lock is broken after
    ``STALE_LOCK_SECONDS``."""
    os.makedirs(path, exist_ok=True)
    held = _acquire_writer_lock(path)
    try:
        cur = os.path.join(path, MANIFEST)
        if os.path.exists(cur):
            try:
                with open(cur) as fh:
                    old = json.load(fh)
                gen_name = f"{GEN_PREFIX}{int(old.get('version', 0))}"
                if not os.path.exists(os.path.join(path, gen_name)):
                    storage.replace_file(
                        path, gen_name, json.dumps(old, indent=1, sort_keys=True)
                    )
            except (OSError, ValueError):
                pass  # unreadable old pointer: nothing to retain
        storage.replace_file(
            path, MANIFEST, json.dumps(manifest, indent=1, sort_keys=True)
        )
        for name in _generation_names(path)[: -KEEP_GENERATIONS or None]:
            try:
                os.remove(os.path.join(path, name))
            except OSError:
                pass
    finally:
        try:
            os.remove(held)
        except OSError:
            pass


def publish_stage(stage: str, path: str) -> None:
    """Publish a fully-staged index directory with ONE atomic
    ``os.rename`` — the shared commit step of every initial-build
    writer (text/positional/IVF). Exactly two outcomes:

    - the rename lands → the index is live at ``path``;
    - a CONCURRENT BUILDER won the race (rename fails with
      ENOTEMPTY/EEXIST because ``path`` already holds a published
      index, re-confirmed via :func:`has_index`) → the losing stage is
      discarded, silently: the winner's index is equivalent by the
      builders' shared input contract.

    Every OTHER failure re-raises after discarding the stage: swallowing
    them would turn EXDEV (stage and path on different filesystems —
    os.rename never crosses one) and permission errors into a mystery
    "no index at path" much later.
    """
    import errno

    try:
        os.rename(stage, path)
    except OSError as e:
        lost_race = e.errno in (errno.ENOTEMPTY, errno.EEXIST) and has_index(
            path
        )
        shutil.rmtree(stage, ignore_errors=True)
        if not lost_race:
            raise


def build(path: str, fmt: str, body, caller: str) -> None:
    """The initial build of every family: ``body(stage)`` writes the
    batch as one segment plus the family's sidecars into a fresh stage
    beside ``path`` and returns ``(partition values, manifest
    entries)``; the stage gets the version-1 manifest and
    :func:`publish_stage` exposes it. A segment with no partition
    value is an empty corpus, refused because an empty index is
    unreadable on the way back. Any failure discards the stage, so
    nothing is half-published."""
    stage = f"{path}.stage-{uuid.uuid4().hex[:8]}"
    try:
        values, entries = body(stage)
        if not values:
            raise ValueError(
                f"{caller}: empty corpus — an index over nothing is "
                "unreadable on the way back; filter upstream"
            )
        write_manifest(stage, {"format": fmt, "version": 1, **entries})
    except BaseException:
        shutil.rmtree(stage, ignore_errors=True)
        raise
    publish_stage(stage, path)


def _generation_names(path: str) -> list[str]:
    """Retained ``_GEN-<k>`` snapshot file names, oldest first."""
    out = []
    for name in os.listdir(path):
        if name.startswith(GEN_PREFIX) and ".tmp-" not in name:
            try:
                out.append((int(name[len(GEN_PREFIX):]), name))
            except ValueError:
                continue
    return [name for _, name in sorted(out)]


def retained_manifests(path: str) -> list[dict]:
    """The CURRENT manifest plus every retained ``_GEN-<k>`` snapshot
    (newest generation last = CURRENT) — the reader-visible set whose
    referenced children :func:`vacuum` must spare."""
    out = []
    for name in [*_generation_names(path), MANIFEST]:
        try:
            with open(os.path.join(path, name)) as fh:
                out.append(json.load(fh))
        except (OSError, ValueError):
            continue
    return out


#: manifest keys that carry METADATA VALUES, not child-directory
#: pointers — referenced_children must skip them or vacuum treats
#: e.g. the recorded vector element type ("float") as a live child
_NON_POINTER_KEYS = frozenset({"format", "version", "vtype"})


def referenced_children(manifest: dict) -> set[str]:
    """Every child directory name the manifest points at: the segments
    list, any string-valued table pointer (dfreq/stats/centroids), and
    any list-valued pointer group (tombstone segments). Pure-metadata
    keys (``_NON_POINTER_KEYS``) are skipped."""
    out: set[str] = set()
    for k, v in manifest.items():
        if k in _NON_POINTER_KEYS:
            continue
        if isinstance(v, str):
            out.add(v)
        elif isinstance(v, (list, tuple)):
            out.update(x for x in v if isinstance(x, str))
    return out


def vacuum(path: str, expect_format: str) -> list[str]:
    """Delete child directories no RETAINED manifest generation
    references (crashed-merge orphans, metadata tables and segments
    superseded past the retention horizon), plus stale ``*.tmp-*``
    pointer-staging files a crash between write and replace left
    behind. Returns the deleted directory names.

    Safe against crashes (deleting an orphan twice is a no-op) AND
    against concurrent readers holding any retained generation — a
    reader older than the ``KEEP_GENERATIONS`` horizon can still lose
    files, which is the same contract as Iceberg snapshot expiry:
    size the horizon to the longest-running query."""
    read_manifest(path, expect_format)  # refuse a non-index directory
    live: set[str] = set()
    for m in retained_manifests(path):
        live |= referenced_children(m)
    deleted = []
    for name in sorted(os.listdir(path)):
        full = os.path.join(path, name)
        if os.path.isfile(full) and (
            ".tmp-" in name or name.startswith(f"{LOCK}.broken-")
        ):
            try:
                os.remove(full)
            except OSError:
                pass
            continue
        if name == MANIFEST or not os.path.isdir(full):
            continue
        if name not in live:
            shutil.rmtree(full, ignore_errors=True)
            deleted.append(name)
    return deleted


# -- the shared segment-and-tombstone lifecycle -------------------------------

#: the directory name Spark's partitioned writer gives a NULL or empty
#: partition value, which reads back as NULL
HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"

#: one escaped character of a partition directory name (Spark's
#: ``escapePathName`` writes ``%XX`` for each character it escapes)
_ESCAPED = re.compile(r"%([0-9A-Fa-f]{2})")


def write_segment(
    df: DataFrame, parent: str, part_col: str, caller: str
) -> tuple[str, list[str]]:
    """The one partitioned segment write of the three families: ``df``,
    already clustered as its family wants, written partitioned by
    ``part_col`` (``token`` or ``cell``) as the fresh child
    ``parent/seg-<id>``. Returns the child name and the partition values
    read back from the written layout, unescaped and sorted (Python
    string order is Spark's UTF-8 byte order). The layout answers both
    batch contracts without a separate job:

    - a ``__HIVE_DEFAULT_PARTITION__`` value is exactly a NULL or empty
      key in the batch (``tokens('')`` yields ``['']``, and the writer
      gives NULL and '' that one name, which reads back as NULL and no
      term equality can reach): refused with a ``ValueError`` naming
      ``caller``;
    - no value at all: the batch produced no rows.

    A refused or empty segment is removed before returning; it is
    unreferenced, so the removal is crash-equivalent. Driver-side
    listing of one directory whose fan-out the write just created
    (one LIST of the segment prefix on an object store)."""
    seg = new_dir_name("seg")
    out = f"{parent}/{seg}"
    df.write.mode("overwrite").partitionBy(part_col).parquet(out)
    prefix = f"{part_col}="
    try:
        names = os.listdir(out)
    except OSError:
        names = []
    values = sorted(
        _ESCAPED.sub(lambda g: chr(int(g[1], 16)), n[len(prefix):])
        for n in names
        if n.startswith(prefix)
    )
    if not values or HIVE_DEFAULT_PARTITION in values:
        shutil.rmtree(out, ignore_errors=True)
        if values:
            raise ValueError(
                f"{caller}: batch contains NULL/empty tokens, which Spark "
                f"writes as {HIVE_DEFAULT_PARTITION} and reads back as "
                "NULL — unreachable by any term equality; clean the "
                "tokenizer output"
            )
    return seg, values


def required(m: dict, key: str):
    """``m[key]`` for a key every current writer of the manifest's
    format records (``docs`` for text and positional, ``vtype`` for
    IVF). A manifest without it was written before the key existed;
    no fallback reads such an index, so it is refused by name —
    rebuild it with the format's writer."""
    if key not in m:
        raise ValueError(
            f"{m.get('format')} manifest (version {m.get('version')}) has "
            f"no {key!r} key, which every {m.get('format')} writer records; "
            "the index predates it — rebuild it with the writer"
        )
    return m[key]


def _union(spark, path: str, children: list[str], cols: list[str]) -> DataFrame:
    return reduce(
        lambda a, b: a.unionByName(b),
        [storage.read_parquet(spark, f"{path}/{c}").select(*cols) for c in children],
    )


def mask_tombstones(spark, path: str, m: dict, df: DataFrame, id_col: str) -> DataFrame:
    """``df`` minus every row whose ``id_col`` the manifest's live
    tombstone sets name: a BROADCAST anti-join (the set is bounded by
    deletes-since-compaction, which the compaction policy keeps
    small; a sort-merge anti-join would shuffle the index). Deleted
    ids vanish from every reader immediately; columns keep their
    order. No tombstones: ``df`` itself, no join in the plan."""
    tombs = m.get("tombstones", [])
    if not tombs:
        return df
    dead = _union(spark, path, tombs, [id_col])
    return df.join(F.broadcast(dead), id_col, "left_anti").select(*df.columns)


def read_live(
    spark, path: str, m: dict, children: list[str], cols: list[str], id_col: str
) -> DataFrame:
    """The union of the ``children`` scans (segments, or a family's
    doc-id sidecars) projected to ``cols``, tombstones masked on
    ``id_col``. Each segment scan keeps its own partitioning, so a
    partition filter on the result prunes PER SEGMENT."""
    return mask_tombstones(spark, path, m, _union(spark, path, children, cols), id_col)


def delete_ids(
    ids: DataFrame,
    path: str,
    expect_format: str,
    plane: str,
    max_deleted_ratio: float | None,
    compact,
) -> int:
    """The one DELETE commit path of the three families (the Lucene
    live-docs model): the distinct ids of ``ids`` (one column, the
    family's id column) are written FIRST as a fresh tombstone child,
    unreferenced until the flip; the count comes from its parquet
    footers; an empty request drops the child and leaves the index
    untouched (no flip); otherwise one atomic pointer flip appends the
    child to the manifest's tombstones. Cost: O(|ids|) + a flip —
    never O(index).

    RETURN VALUE: the number of DISTINCT ids in the request — not the
    number of newly tombstoned ids. Ids the index never held and ids
    already tombstoned count too (21 never-indexed ids return 21).

    ``max_deleted_ratio`` is the deletes-percentage compaction policy
    (Lucene's tier trigger): after the flip, n_dead / n_all is the
    number of DISTINCT ids of the manifest's ``plane`` children (the
    ``docs`` sidecar, or the IVF segments) that any live tombstone
    names, over the distinct ids of that plane — never a raw
    tombstone-row sum, which re-deletes and foreign ids would inflate
    until the ``0 < n_dead < n_all`` guard disabled the policy for
    good. Above the ratio, ``compact()`` runs inline; n_dead == n_all
    stays tombstoned, because compaction refuses an empty fold. Safe
    under concurrent readers via generation retention."""
    spark = ids.sparkSession
    id_col = ids.columns[0]
    m = read_manifest(path, expect_format)
    plane_children = required(m, plane)
    tomb = new_dir_name("tomb")
    ids.distinct().write.mode("overwrite").parquet(f"{path}/{tomb}")
    n = storage.read_parquet(spark, f"{path}/{tomb}").count()
    if n == 0:
        shutil.rmtree(f"{path}/{tomb}", ignore_errors=True)
        return 0
    m = {
        **m,
        "version": int(m["version"]) + 1,
        "tombstones": [*m.get("tombstones", []), tomb],
    }
    write_manifest(path, m)  # ---- the single commit point ----
    if max_deleted_ratio is not None and _over_deleted_ratio(
        spark, path, m, plane_children, id_col, max_deleted_ratio
    ):
        compact()
    return n


def _over_deleted_ratio(
    spark, path: str, m: dict, plane_children: list[str], id_col: str, ratio: float
) -> bool:
    """Whether n_dead / n_all > ``ratio`` with ``0 < n_dead < n_all``
    (see :func:`delete_ids`), both counts from ONE aggregate: the
    distinct plane ids left-joined to the broadcast distinct tombstone
    set."""
    dead = _union(spark, path, m["tombstones"], [id_col]).distinct()
    row = (
        _union(spark, path, plane_children, [id_col])
        .distinct()
        .join(F.broadcast(dead.withColumn("_dead", F.lit(1))), id_col, "left")
        .agg(F.count("*").alias("n_all"), F.count("_dead").alias("n_dead"))
        .collect()[0]
    )
    n_all, n_dead = int(row["n_all"]), int(row["n_dead"])
    return 0 < n_dead < n_all and n_dead / n_all > ratio


def commit_fold(
    path: str, m: dict, segment: tuple[str, list[str]], caller: str, **tables
) -> None:
    """The compaction tail of every family, run once the fold of the
    live (tombstone-masked) rows is written by :func:`write_segment`
    (``segment`` is its result) and the family's ``tables`` under
    fresh names:

    - refuse an EMPTY fold — a segment with no partition value is
      unreadable on the way back (the writers' empty-corpus
      contract); the unreferenced new children are vacuumed as
      crash-equivalent orphans and the manifest is untouched;
    - flip to the next version naming the segment as the only one
      plus ``tables``, with no tombstones (the fold applied them);
    - vacuum every child no retained generation references."""
    seg, values = segment
    if not values:
        vacuum(path, m["format"])
        raise ValueError(
            f"{caller}: the fold is empty — every indexed id is tombstoned "
            "(or no survivor has a posting); an empty index is unreadable "
            "on the way back, so delete the index directory instead"
        )
    write_manifest(
        path,
        {
            "format": m["format"],
            "version": int(m["version"]) + 1,
            "segments": [seg],
            **tables,
        },
    )
    vacuum(path, m["format"])

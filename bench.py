#!/usr/bin/env python
"""Benchmark harness: per-query wall times and Spark job counts.

Runs every query registered in ``__spark_entry__.queries()`` against
``$SPARK_GRAFT_SF_DIR`` (default ``/root/testdata/sf0.1``) on
``local[$SPARK_GRAFT_CPUS]``, forcing full execution with a ``noop``
format write (computes everything, writes nothing, no driver collect).
Each query is timed ``$SPARK_GRAFT_BENCH_RUNS`` (default 3) times by
:func:`time_query`, which records the median wall time and the Spark
``{jobs, stages, tasks}`` of the last run (``perfbench.spans.JobCounter``).
Job counts repeat from run to run for nearly every query; wall times do
not. The bench records both and judges neither: ``tools/compare_bench.py A.json B.json``
compares two recordings.

``$SPARK_GRAFT_STRESS=0`` skips the stress pass, which re-times
``STRESS_QUERIES`` over a ``STRESS_MULT``× copy of the data and then
times build, serve and merge of each persisted-index family at 1× and
``STRESS_MULT``× (``stress.lifecycle``).

Output, the last two lines of stdout:

- the full artifact: ``metric``/``value``/``unit``/``sf``, ``queries``
  (name → median seconds, null for a failed query), ``counts`` (name →
  jobs/stages/tasks), ``runs_sec`` (every raw run), ``suite_runs_sec``
  and the ``stress`` block;
- a compact summary line, because the bench runner keeps only the last
  2,000 characters of stdout, which can slice the full artifact mid-JSON. It
  carries the contract keys plus as many of the most expensive medians
  as fit under ``SUMMARY_LINE_BUDGET`` and the path of the full
  per-query map, written to ``BENCH_PERQUERY_c{cpus}.json`` next to this
  script (one file per core count: the bench is recorded at two).
  ``tools/close_round.py`` records the full artifact and skips this line
  by its ``bench_summary`` marker.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

from perfbench.spans import JobCounter

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
RUNS = max(int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")), 1)

# Stress mode: union the fact tables STRESS_MULT× (≈ sf × mult) and
# re-time the data-bound heavy hitters, so regressions are visible
# above the fixed local-Spark overhead that dominates sf0.1.
# SPARK_GRAFT_STRESS=0 disables.
STRESS = os.environ.get("SPARK_GRAFT_STRESS", "1") != "0"
STRESS_MULT = 10
# Every stress query must stay linear in rows at STRESS_MULT× (or within
# the bounded superlinear term named next to it); a superlinear stress
# time is the regression signal.
STRESS_QUERIES = [
    "top_products_by_revenue",
    "order_total_reagg",
    "dq_metrics",
    "docs_neardup_jaccard",
    "docs_neardup_minhash",
    "emb_cosine_neardup",
    "docs_decontaminate",
    "events_asof_attribution",
    "events_range_attribution",
    "docs_bm25_search",
    "top_products_per_nation",
    "customer_running_totals",
    # the connected-components scale path, the Python-bound (Arrow)
    # decode pass, and the composite IVF-PQ ANN
    "docs_neardup_clusters_lss",
    "mm_decode_image_stats",
    "emb_knn_ivfpq",
    # cell-bounded semantic dedup (Σ|cell|² term), the hopping-window
    # explode (2× pre-agg rows), the w×-gram-explode winnowing pass,
    # and the sketch family (must stay flat-linear)
    "emb_semdedup",
    "events_sliding_window",
    "docs_winnow_overlap",
    "events_hll_users",
    # the iterative edge propagation (rounds × linear-in-edges), the
    # Bloom-pruned fact scan, and the segment-blocked fuzzy join
    # (candidates linear in rows unless a hot segment appears)
    "parts_copurchase_pagerank",
    "events_bloom_semijoin",
    "docs_neardup_editdist",
    "events_heavy_hitters_mg",
    "events_type_transitions",
    "customers_incremental_agg",
    "orders_exact_quantiles_twopass",
    "events_zorder_roundtrip",
    # corpus comparison: a token-explode partial agg and a shingle-hash
    # inverted-index self-join (per-copy token suffixing keeps the
    # cross-copy shingle/vocab space disjoint)
    "docs_distinctive_terms",
    "docs_source_overlap_matrix",
    "emb_label_outliers",
    # multi-join analytics: selective pushdown + semi-join + TakeOrdered
    "shipping_priority",
    "returned_items_report",
    # quintile scoring (boundary order statistics in 3 bounded passes,
    # never a global sort), the outer-join histogram, the yield-curve
    # shingle pass, and the per-nation concentration fold
    "customer_rfm_segments",
    "customer_order_distribution",
    "docs_dedup_yield_curve",
    "nation_supplier_hhi",
    # the oriented triangle close (O(|E|^1.5)-bounded, edge build
    # checkpointed once), the per-order window blame report, the
    # distinct-pair diversity rollup, and the train/apply LM scoring
    "parts_copurchase_triangles",
    "waiting_orders_suppliers",
    "supplier_part_diversity",
    "docs_heldout_perplexity",
    # the Σ|basket|³ triple join (support cut in its own shuffle) and
    # the two-window-pass Markov fit (the walk is |types|²-bounded)
    "market_basket_rules",
    "events_markov_attribution",
    # the persisted-index lifecycle: |batch|-sized segment writes and
    # |vocab|-row metadata rewrites, cell/token-pruned serving, never
    # O(index) on the hot path; build + incremental merge + tombstoned
    # serving for both families, the compaction fold, and the two-leg
    # indexed hybrid composition
    "docs_bm25_index_merge",
    "docs_bm25_index_deleted",
    "docs_bm25_index_compacted",
    "emb_knn_ivf_merged",
    "docs_hybrid_search_rrf_indexed",
    # the positional (phrase) family: the brute-force scan must stay
    # linear and the index paths metadata-plane-dominant
    "docs_phrase_search",
    "docs_phrase_search_indexed",
    "docs_phrase_search_deleted",
]

#: total serialized length cap for the final summary line; the bench
#: runner keeps the last 2,000 chars of stdout, so the line must fit inside
#: that window with room to spare.
SUMMARY_LINE_BUDGET = 1700


def _sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


def _force(df) -> None:
    """Force full evaluation without materializing rows on the driver,
    then release the result's storage blocks: fixture queries return
    eagerly-localCheckpointed frames whose blocks would otherwise pin
    block-manager memory for the whole session and slow every later
    query. unpersist on a non-persisted frame is a no-op, so this is
    safe for every query."""
    df.write.format("noop").mode("overwrite").save()
    df.unpersist()


def _release_leaked_blocks() -> None:
    """Intermediate localCheckpoints inside a query (cluster labels,
    planted corpora, BM25 base) are unreachable from the returned frame;
    their JVM refs die only when Python GC finalizes the py4j proxies,
    letting Spark's ContextCleaner reap the blocks. Force that cycle
    between queries instead of letting pressure build."""
    import gc

    gc.collect()


def time_query(spark, counter: JobCounter, fn, data_dir: str, runs: int):
    """Run ``fn(spark, data_dir)`` ``runs`` times through :func:`_force`.

    Returns ``(median_sec, run_secs, counts)``: the median wall time
    rounded to 0.1 ms, every run's wall time, and the
    ``{jobs, stages, tasks}`` the last run submitted. The counter is read
    outside the timed window. A failing run raises."""
    times = []
    try:
        for _ in range(runs):
            first = counter.mark()
            t0 = time.perf_counter()
            _force(fn(spark, data_dir))
            times.append(round(time.perf_counter() - t0, 4))
            counts = counter.since(first)
    finally:
        _release_leaked_blocks()
    return round(statistics.median(times), 4), times, counts


def _timed_pass(spark, counter, queries, names, data_dir, label=""):
    """:func:`time_query` over ``names``: medians (None for a failed
    query, never a bare NaN, which is invalid JSON), raw runs and
    counts per query."""
    medians: dict[str, float | None] = {}
    runs: dict[str, list[float]] = {}
    counts: dict[str, dict[str, int]] = {}
    for name in names:
        try:
            medians[name], runs[name], counts[name] = time_query(
                spark, counter, queries[name], data_dir, RUNS
            )
        except Exception as exc:
            medians[name] = None
            print(f"# {label}{name}: FAILED: {exc}", file=sys.stderr)
            continue
        print(
            f"# {label}{name}: runs={runs[name]} median={medians[name]}s "
            f"counts={counts[name]}",
            file=sys.stderr,
        )
    return medians, runs, counts


def _build_stress_dir(spark, mult: int) -> str:
    """Materialize a ~``mult``×-scale copy of the testdata under /tmp.

    - Dimensions (region..part) are symlinked — unchanged.
    - Relational facts (orders, lineitem, events) are unioned ``mult``×
      with keys UNCHANGED: every downstream join/agg stays linear
      (groupBy collapses copies; dim joins are 1:K), so this scales row
      volume without manufacturing quadratic pathologies.
    - Content tables get per-copy perturbation, because exact copies
      WOULD be quadratic for similarity queries (every cross-copy pair
      becomes a near-dup): documents suffix every token with the copy
      id (cross-copy Jaccard = 0, within-copy dup structure intact);
      embeddings flip component signs by hash(vec_id, pos, copy)
      (expected cross-copy cosine ≈ 0). Ids offset by copy×10^7.
    """
    import tempfile

    from pyspark.sql import functions as F

    out = tempfile.mkdtemp(prefix="bench_stress_")
    for t in ("region", "nation", "customer", "supplier", "part"):
        os.symlink(f"{SF_DIR}/{t}.parquet", f"{out}/{t}.parquet")
    for t in ("orders", "lineitem", "events"):
        base = spark.read.parquet(f"{SF_DIR}/{t}.parquet")
        df = base
        for _ in range(mult - 1):
            df = df.unionAll(base)
        df.write.mode("overwrite").parquet(f"{out}/{t}.parquet")

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    doc_copies = [docs]
    for i in range(1, mult):
        doc_copies.append(
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000)).withColumn(
                "text",
                F.array_join(
                    F.transform(F.split("text", " "), lambda x: F.concat(x, F.lit(f"_{i}"))),
                    " ",
                ),
            )
        )
    _union_all(doc_copies).write.mode("overwrite").parquet(f"{out}/documents.parquet")

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    emb_copies = [emb]
    for i in range(1, mult):
        flipped = F.expr(
            "transform(embedding, (x, j) -> cast(x * (case when "
            f"pmod(xxhash64(vec_id, j, {i}), 2) = 0 then 1.0 else -1.0 end) as float))"
        )
        emb_copies.append(
            emb.select(
                (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"),
                flipped.alias("embedding"),
                "label",
            )
        )
    _union_all(emb_copies).write.mode("overwrite").parquet(f"{out}/embeddings.parquet")
    return out


def _union_all(dfs):
    df = dfs[0]
    for d in dfs[1:]:
        df = df.unionByName(d)
    return df


def _lifecycle_stress(spark, base_dir: str, stress_dir: str) -> dict:
    """Maintenance vs serve, measured SEPARATELY per index family
    (text/BM25, positional/phrase, IVF/ANN) at 1× and STRESS_MULT×.
    The in-plan rebuilds of the lifecycle STRESS_QUERIES are dominated
    by the O(corpus) build, so this block builds each family once per
    scale and times serve and merge on their own:

    - ``build_sec``: one full index build per scale (the O(corpus)
      cost, paid once offline — reported, not judged);
    - ``serve_sec``: BEST-OF query time from the PREBUILT index
      through the production serving path — the term/cell-dictionary
      SEEK the registered queries run (text: the shared
      ``bm25_top20_indexed`` plan helper; positional: the shared
      ``phrase_serve`` seek + aligned join; IVF:
      ``knn_ivf_from_index``) — which must be corpus-size-insensitive
      (``serve_ratio`` ≤ ~2× is the claim). Best-of, not median: these
      run at the END of a long bench session where block-manager/GC
      pressure only ADDS time. ``serve_discovery_sec``
      (text/positional) times the SAME rows through the discovery
      readers (`read_text_index` / `read_positional_index` + isin) as
      the regression reference: the serve/discovery gap IS the
      |vocab|-linear partition-discovery cost the seek avoids;
    - ``merge_sec``: fold a fixed 1×-sized batch into each index,
      best-of-2 (each merge lands a DISJOINT id-offset batch, so
      repeating it is valid) — |batch|-sized, never O(index), so
      ``merge_ratio`` must stay ~flat across scales.

    The IVF stress build scales ``n_centroids`` with the corpus
    (constant target occupancy — the standard IVF sizing rule, same
    as the auto-sized LSH), otherwise 10× rows in fixed cells makes
    every probe 10× by design, which would test the sizing mistake,
    not the engine. That sizing choice is also why IVF's
    ``merge_ratio`` is NOT expected flat: assignment is
    O(|batch|·k·d), so pinning serve occupancy (k ∼ n) makes each
    merge pay k-linear assignment — the classic IVF tradeoff (Faiss's
    k ∼ √n balances the two at √-growth each). Text/positional merges
    have no such term and must stay ~flat."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ecommerce_realtime_pipeline_spark.operators import similarity as SIM
    from ecommerce_realtime_pipeline_spark.operators import text as TX
    from ecommerce_realtime_pipeline_spark.plans.textsearch import (
        BM25_TERMS,
        PHRASE_QUERY,
        bm25_rank,
        bm25_top20_indexed,
        phrase_hits,
        phrase_serve,
    )

    root = tempfile.mkdtemp(prefix="bench_lifecycle_")
    # fixed merge batches: the 1× corpus with per-merge-disjoint id
    # offsets — |batch| is constant across scales, so a flat merge
    # time IS the "|batch|-sized, never O(index)" claim
    def docs_batch(run):
        return spark.read.parquet(
            f"{base_dir}/documents.parquet"
        ).withColumn(
            "doc_id", F.col("doc_id") + F.lit((900 + run) * 1_000_000)
        )

    def emb_batch(run):
        return spark.read.parquet(f"{base_dir}/embeddings.parquet").select(
            (F.col("vec_id") + F.lit((900 + run) * 1_000_000)).alias(
                "vec_id"
            ),
            "embedding",
            "label",
        )
    # fixed ANN query set (8 vectors): serve cost is per-query
    ann_q = (
        spark.read.parquet(f"{base_dir}/embeddings.parquet")
        .orderBy("vec_id")
        .limit(8)
        .localCheckpoint()
    )

    def bm25_serve_discovery(path):
        # the discovery reader, kept as the regression reference:
        # read_text_index pays the |vocab|-linear partition-discovery
        # pass the production seek avoids
        postings, dfreq, stats = TX.read_text_index(spark, path)
        return bm25_rank(
            postings.filter(F.col("token").isin(*BM25_TERMS)).select(
                "doc_id", "token", "tf", "dl"
            ),
            dfreq.filter(F.col("token").isin(*BM25_TERMS)),
            stats,
        )

    def phrase_serve_discovery(path):
        post = TX.read_positional_index(spark, path).filter(
            F.col("token").isin(*PHRASE_QUERY)
        )
        return phrase_hits(TX.phrase_occurrences(post, list(PHRASE_QUERY)))

    fams = {
        "text_bm25": dict(
            build=lambda docs, emb, path, mult: TX.write_text_index(docs, path),
            # the same plan helper every registered persisted-text-index
            # query runs (seek postings + manifest dfreq/stats)
            serve=lambda path: bm25_top20_indexed(spark, path),
            serve_discovery=bm25_serve_discovery,
            merge=lambda path, run: TX.merge_text_index(docs_batch(run), path),
        ),
        "positional_phrase": dict(
            build=lambda docs, emb, path, mult: TX.write_positional_index(
                docs, path
            ),
            serve=lambda path: phrase_serve(spark, path, PHRASE_QUERY),
            serve_discovery=phrase_serve_discovery,
            merge=lambda path, run: TX.merge_positional_index(
                docs_batch(run), path
            ),
        ),
        "ivf_ann": dict(
            build=lambda docs, emb, path, mult: SIM.write_ivf_index(
                emb, path, n_centroids=16 * mult
            ),
            serve=lambda path: SIM.knn_ivf_from_index(
                spark, path, ann_q, k=5, n_probe=4
            ),
            merge=lambda path, run: SIM.merge_ivf_index(emb_batch(run), path),
        ),
    }

    def best_of(n, op):
        times = []
        for i in range(n):
            t0 = time.perf_counter()
            op(i)
            times.append(time.perf_counter() - t0)
        return round(min(times), 4)

    out: dict[str, dict] = {}
    try:
        for scale, d, mult in (
            ("base", base_dir, 1),
            ("stress", stress_dir, STRESS_MULT),
        ):
            docs = spark.read.parquet(f"{d}/documents.parquet")
            emb = spark.read.parquet(f"{d}/embeddings.parquet")
            for fam, ops in fams.items():
                path = os.path.join(root, f"{fam}-{scale}")
                row = {
                    "build_sec": best_of(
                        1, lambda _: ops["build"](docs, emb, path, mult)
                    ),
                    "serve_sec": best_of(
                        RUNS, lambda _: _force(ops["serve"](path))
                    ),
                }
                if "serve_discovery" in ops:
                    row["serve_discovery_sec"] = best_of(
                        RUNS, lambda _: _force(ops["serve_discovery"](path))
                    )
                # disjoint batches: repeating the merge is valid
                row["merge_sec"] = best_of(2, lambda run: ops["merge"](path, run))
                _release_leaked_blocks()
                out.setdefault(fam, {})[scale] = row
                print(f"# lifecycle {fam}@{scale}: {row}", file=sys.stderr)
        for scales in out.values():
            b, s = scales.get("base"), scales.get("stress")
            if b and s:
                for key in ("serve", "serve_discovery", "merge"):
                    if f"{key}_sec" in b:
                        bv, sv = b[f"{key}_sec"], s[f"{key}_sec"]
                        scales[f"{key}_ratio"] = round(sv / bv, 3) if bv else None
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def _stress(spark, counter, queries) -> dict:
    """The stress pass: :func:`_timed_pass` over STRESS_QUERIES on a
    STRESS_MULT× copy of the data, then the index lifecycle block."""
    import shutil

    stress_dir = None
    try:
        t0 = time.perf_counter()
        stress_dir = _build_stress_dir(spark, STRESS_MULT)
        build_sec = round(time.perf_counter() - t0, 4)
        names = [n for n in STRESS_QUERIES if n in queries]
        medians, runs, counts = _timed_pass(
            spark, counter, queries, names, stress_dir, label="stress "
        )
        stress = {
            "multiplier": STRESS_MULT,
            "approx_sf": round(_sf_from_dir(SF_DIR) * STRESS_MULT, 4),
            "build_sec": build_sec,
            "runs": RUNS,
            "queries": medians,
            "counts": counts,
            "runs_sec": runs,
        }
        try:
            stress["lifecycle"] = _lifecycle_stress(spark, SF_DIR, stress_dir)
        except Exception as exc:  # never break the stress block
            print(f"lifecycle stress failed: {exc}", file=sys.stderr)
            stress["lifecycle"] = {"error": str(exc)}
    except Exception as exc:  # stress must never break the main line
        print(f"stress mode failed: {exc}", file=sys.stderr)
        stress = {"error": str(exc)}
    finally:
        if stress_dir:
            shutil.rmtree(stress_dir, ignore_errors=True)
    return stress


def main() -> int:
    import __spark_entry__ as entry_mod
    from ecommerce_realtime_pipeline_spark.session import get_spark

    spark = get_spark(app_name="bench")
    counter = JobCounter(spark.sparkContext)
    queries = entry_mod.queries()

    # Warm the JVM/codegen once with the cheapest full pass so the first
    # timed query doesn't absorb all session start-up cost.
    first = next(iter(queries.values()))
    try:
        _force(first(spark, SF_DIR))
    except Exception as exc:  # pragma: no cover - warmup best-effort
        print(f"warmup failed: {exc}", file=sys.stderr)

    per_query, runs, counts = _timed_pass(spark, counter, queries, queries, SF_DIR)
    total = round(sum(v for v in per_query.values() if v is not None), 4)
    # each run's suite total over the queries that completed: the spread
    # of the median-of-RUNS protocol, visible in the artifact
    suite_runs = [round(sum(ts[i] for ts in runs.values()), 4) for i in range(RUNS)]
    out = {
        "metric": "suite_median_wall_sec",
        "value": total,
        "unit": "sec",
        "sf": _sf_from_dir(SF_DIR),
        "queries": per_query,
        "counts": counts,
        "runs_sec": runs,
        "suite_runs_sec": suite_runs,
        "suite_runs_median": round(statistics.median(suite_runs), 4),
    }
    if STRESS:
        out["stress"] = _stress(spark, counter, queries)
    print(json.dumps(out))
    perquery_path = _write_perquery(out)
    print(summary_line(total, len(per_query), out["sf"], per_query, perquery_path))
    return 0


def _write_perquery(out: dict) -> str:
    """Write the full per-query map and counts to
    ``BENCH_PERQUERY_c{cpus}.json`` next to this script — one file per
    core count, because the bench is recorded at two core counts and the
    scaling diff needs both. Returns the absolute path (carried on the
    summary line as ``bench_perquery_path``); never raises — a read-only
    checkout must not kill the bench."""
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        f"BENCH_PERQUERY_c{CPUS}.json",
    )
    keys = ("metric", "value", "unit", "sf", "queries", "counts", "suite_runs_sec")
    doc = {"cpus": int(CPUS), **{k: out[k] for k in keys}}
    try:
        with open(path, "w") as fh:
            json.dump(doc, fh)
            fh.write("\n")
    except OSError as exc:
        print(f"# perquery artifact not written ({exc})", file=sys.stderr)
        return ""
    return path


def _fit_queries(per_query: dict, budget: int) -> dict:
    """The most expensive queries, in deterministic descending-cost
    order, trimmed so their JSON serialization stays within ``budget``
    chars. Descending cost (not name order) so the 32-core and 8-core
    driver runs carry near-identical key sets and the driver's scaling
    diff has common entries."""
    ranked = sorted(
        ((v, n) for n, v in per_query.items() if v is not None),
        key=lambda t: (-t[0], t[1]),
    )
    fitted: dict[str, float] = {}
    used = 2  # the enclosing {}
    for v, n in ranked:
        cost = len(json.dumps({n: v})) - 2  # the entry without its {}
        if fitted:
            cost += 2  # the ", " separator
        if used + cost > budget:
            break
        fitted[n] = v
        used += cost
    return fitted


def summary_line(total, n, sf, per_query, perquery_path: str = "") -> str:
    """The truncation-proof final stdout line: the contract keys
    (``metric``/``value``/``unit``/``sf``), ``n``, ``suite_sec``, the
    path of the full per-query artifact, and a ``queries`` map with as
    many of the most expensive medians as fit. Total length stays within
    SUMMARY_LINE_BUDGET, inside the runner's 2,000-char window."""
    base = {
        "bench_summary": True,
        "metric": "suite_median_wall_sec",
        "value": total,
        "unit": "sec",
        "suite_sec": total,
        "n": n,
        "sf": sf,
        "bench_perquery_path": perquery_path,
        # sized at its largest value (n) so the final count cannot
        # lengthen the line past what was budgeted
        "queries_truncated": n,
        "queries": {},
    }
    # the serialized {} of the empty map is replaced by the fitted map
    room = SUMMARY_LINE_BUDGET - len(json.dumps(base)) + 2
    fitted = _fit_queries(per_query, max(room, 0))
    base["queries"] = fitted
    base["queries_truncated"] = max(n - len(fitted), 0)
    return json.dumps(base)


if __name__ == "__main__":
    sys.exit(main())

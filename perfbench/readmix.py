"""``read_mix``: dashboard queries and index serves, with periodic merges.

Set-up writes the seeded TPC-H-style tables (:mod:`perfbench.datagen`)
and builds the BM25 text, positional and IVF indexes over them. A round
is a fixed multiset of operations in a seed-shuffled order: every query
in ``QUERIES`` (collected, as a dashboard would), one single-query serve
of each index, and one id-disjoint merge into one of the indexes, taken
in turn. One client, closed loop.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
from pyspark.sql import functions as F

import __spark_entry__ as entry
from ecommerce_realtime_pipeline_spark.catalog import TABLES, load_table
from ecommerce_realtime_pipeline_spark.operators import indexfmt
from ecommerce_realtime_pipeline_spark.operators import similarity as SIM
from ecommerce_realtime_pipeline_spark.operators import text as TX

from perfbench import datagen
from perfbench.metrics import INDEXES
from perfbench.metrics import READ_QUERIES as QUERIES
from perfbench.spans import Tracer, file_sizes, written

FAMILIES = ("kpi", "dq", "temporal")
FORMATS = {"text_index": TX.TEXT_INDEX_FORMAT, "positional_index": TX.POS_INDEX_FORMAT,
           "ivf_index": SIM.IVF_INDEX_FORMAT}
TERMS = (("spark", "stream"), ("hash", "join", "table"), ("window", "query"))
PHRASES = (("hash", "join"), ("the", "table"), ("sort", "key"))
N_QUERY_VECS = 10
KNN_K = 5
N_PROBE = 4
MERGE_DOCS = 50
MERGE_ID_BASE = 1_000_000
MAX_SEGMENTS = 4
WARMUP_THREADS = 3


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def _hash_rows(cols, rows) -> list:
    """Rows as sorted tuples of exact values, columns in name order: the
    order-insensitive comparison the oracle checks use."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


class ReadMix:
    def __init__(self, spark, work: str, seed: int, tracer, sf: float = 0.01):
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.data = os.path.join(work, "data")
        datagen.write_tables(self.data, sf, seed)
        registry = entry.queries()
        self.plans = {q: registry[q] for q in QUERIES}
        self.oracles = entry.oracle_sql()
        self.duck = duckdb.connect()
        for t in TABLES:
            self.duck.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        self.expected: dict = {}
        self.paths = {k: os.path.join(work, k) for k in INDEXES}
        self.merges = 0

    def family(self, query: str) -> str:
        """``kpi``, ``dq`` or ``temporal``: the plans module of ``query``."""
        return self.plans[query].__module__.rsplit(".", 1)[1]

    def build_indexes(self) -> None:
        docs = load_table(self.spark, self.data, "documents")
        emb = load_table(self.spark, self.data, "embeddings")
        with ThreadPoolExecutor(len(INDEXES)) as pool:
            builds = [
                pool.submit(TX.write_text_index, docs, self.paths["text_index"]),
                pool.submit(TX.write_positional_index, docs, self.paths["positional_index"]),
                pool.submit(SIM.write_ivf_index, emb, self.paths["ivf_index"]),
            ]
            for b in builds:
                b.result()
        self.emb = emb
        self.query_vecs = {
            r["vec_id"]: np.asarray(r["embedding"], np.float64)
            for r in emb.filter(F.col("vec_id") < N_QUERY_VECS).collect()
        }

    def round_ops(self, rnd: int) -> list[tuple]:
        rng = random.Random(self.seed * 100_003 + rnd)
        ops = [("query", q) for q in QUERIES] + [
            ("text_index", rng.choice(TERMS)),
            ("positional_index", rng.choice(PHRASES)),
            ("ivf_index", rng.randrange(N_QUERY_VECS)),
            ("merge", INDEXES[rnd % len(INDEXES)]),
        ]
        rng.shuffle(ops)
        return ops

    # -- operations --------------------------------------------------------
    def op(self, kind: str, arg) -> tuple[str, float, bool]:
        """Run one operation; return (timing key, seconds, correct)."""
        tr = self.tracer
        if kind == "query":
            with tr.span(f"{self.family(arg)}:{arg}"):
                t0 = time.perf_counter()
                df = self.plans[arg](self.spark, self.data)
                rows = df.collect()
                dt = time.perf_counter() - t0
            return f"query.{arg}", dt, self._check_query(arg, df.columns, rows)
        if kind == "merge":
            return self._merge(arg)
        path = self.paths[kind]
        with tr.span(f"{kind}.serve"):
            t0 = time.perf_counter()
            if kind == "text_index":
                rows = TX.seek_text_postings(self.spark, path, list(arg)).collect()
            elif kind == "positional_index":
                got = TX.seek_positional_tokens(self.spark, path, list(arg))
                rows = TX.phrase_occurrences(got, list(arg)).collect()
            else:
                query = self.emb.filter(F.col("vec_id") == arg)
                rows = SIM.knn_ivf_from_index(
                    self.spark, path, query, k=KNN_K, n_probe=N_PROBE
                ).collect()
            dt = time.perf_counter() - t0
        return f"{kind}.serve", dt, self._check_serve(kind, arg, rows)

    def _merge(self, kind: str) -> tuple[str, float, bool]:
        m = self.merges
        self.merges += 1
        first = MERGE_ID_BASE + m * MERGE_DOCS
        if kind == "ivf_index":
            table = datagen.embeddings_table(MERGE_DOCS, self.seed * 31 + m, first)
        else:
            table = datagen.documents_table(MERGE_DOCS, self.seed * 31 + m, first)
        batch = self.spark.createDataFrame(table.to_pandas())
        path = self.paths[kind]
        before = file_sizes(path) if self.tracer.enabled else None
        with self.tracer.span(f"{kind}.merge") as counts:
            t0 = time.perf_counter()
            if kind == "text_index":
                TX.merge_text_index(batch, path, max_segments=MAX_SEGMENTS)
            elif kind == "positional_index":
                TX.merge_positional_index(batch, path, max_segments=MAX_SEGMENTS)
            else:
                SIM.merge_ivf_index(batch, path, max_segments=MAX_SEGMENTS)
            dt = time.perf_counter() - t0
        if before is not None:
            counts["bytes_written"] = written(before, file_sizes(path))[1]
        return f"{kind}.merge", dt, True

    # -- correctness gate (outside the timed region) -------------------------
    def _check_query(self, name: str, cols: list[str], rows) -> bool:
        if name not in self.expected:
            res = self.duck.cursor().execute(self.oracles[name])
            names = [d[0] for d in res.description]
            self.expected[name] = (sorted(names), _hash_rows(names, res.fetchall()))
        want_cols, want = self.expected[name]
        return sorted(cols) == want_cols and _hash_rows(cols, rows) == want

    def manifest(self, kind: str) -> dict:
        return indexfmt.read_manifest(self.paths[kind], FORMATS[kind])

    def _check_serve(self, kind: str, arg, rows) -> bool:
        key = (kind, arg, int(self.manifest(kind)["version"]))
        if key not in self.expected:
            self.expected[key] = self._discovery_read(kind, arg)
        if kind == "ivf_index":
            got = sorted((r["query_id"], r["rank"], r["neighbor_id"]) for r in rows)
        else:
            got = sorted(tuple(r) for r in rows)
        return got == self.expected[key]

    def _discovery_read(self, kind: str, arg) -> list:
        """The expected answer: text and phrase serves through the
        discovery-path readers; IVF serves through a NumPy replica of the
        probe and exact rerank over the cells ``read_ivf_index`` returns."""
        path = self.paths[kind]
        if kind == "text_index":
            postings = TX.read_text_index(self.spark, path)[0]
            want = postings.filter(F.col("token").isin(*arg)).select("token", "doc_id", "tf", "dl")
            return sorted(tuple(r) for r in want.collect())
        if kind == "positional_index":
            postings = TX.read_positional_index(self.spark, path)
            return sorted(tuple(r) for r in TX.phrase_occurrences(postings, list(arg)).collect())
        cents, cells = SIM.read_ivf_index(self.spark, path)
        stored = cells.collect()
        ids = np.array([r["neighbor_id"] for r in stored])
        cell = np.array([r["cell"] for r in stored])
        vecs = np.array([r["_v"] for r in stored], np.float64)
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        c = np.asarray(cents, np.float64)
        c /= np.linalg.norm(c, axis=1, keepdims=True)
        q = self.query_vecs[arg] / np.linalg.norm(self.query_vecs[arg])
        probe = np.argsort(-(c @ q), kind="stable")[:N_PROBE]
        cand = np.isin(cell, probe) & (ids != arg)
        sims = vecs[cand] @ q
        order = np.lexsort((ids[cand], -sims))[:KNN_K]
        return [(arg, rank + 1, int(ids[cand][i])) for rank, i in enumerate(order)]


def run(bench: ReadMix, seconds: float) -> dict:
    """Set up and warm up with one round, then time whole rounds until
    ``seconds`` have passed. A traced run times at least one round per
    index, so that each index is merged into once. Per-layer
    busy times and counts are per timed round; ``*_s`` latencies and
    ``*_jobs``/``*_bytes_written`` are per operation."""
    tr = bench.tracer
    t0 = time.perf_counter()
    with tr.span("setup"):
        bench.build_indexes()
        # warm-up: every operation once, untraced, reads side by side
        bench.tracer = Tracer(None)
        ops = bench.round_ops(0)
        with ThreadPoolExecutor(WARMUP_THREADS) as pool:
            for f in [pool.submit(bench.op, k, a) for k, a in ops if k != "merge"]:
                f.result()
        bench.op(*next(op for op in ops if op[0] == "merge"))
        bench.tracer = tr
    setup_s = time.perf_counter() - t0
    first_span = len(tr.spans)
    lat, failed, rounds = [], 0, 0
    times: dict[str, list[float]] = {}
    start = time.perf_counter()
    min_rounds = len(INDEXES) if tr.enabled else 1
    while time.perf_counter() - start < seconds or rounds < min_rounds:
        rounds += 1
        with tr.span("round"):
            for kind, arg in bench.round_ops(rounds):
                t = time.perf_counter()
                try:
                    key, dt, ok = bench.op(kind, arg)
                except Exception:  # a failed operation is counted, not dropped
                    traceback.print_exc()
                    key, dt, ok = f"error.{kind}", time.perf_counter() - t, False
                lat.append(dt)
                times.setdefault(key, []).append(dt)
                failed += not ok
    layers = {f"{k}_s": statistics.median(v) for k, v in times.items()}
    if tr.enabled:
        spans = tr.spans[first_span:]
        own = tr.self_times()
        for fam in FAMILIES:
            mine = [s for s in spans if s["name"].split(":")[0] == fam]
            layers[f"{fam}.busy_s"] = sum(own[s["id"]] for s in mine) / rounds
            for c in ("jobs", "stages", "tasks"):
                layers[f"{fam}.{c}"] = sum(s["counts"][c] for s in mine) / rounds
        for k in INDEXES:
            for op, count in (("serve", "jobs"), ("merge", "bytes_written")):
                mine = [s for s in spans if s["name"] == f"{k}.{op}"]
                if mine:
                    layers[f"{k}.{op}_{count}"] = sum(s["counts"][count] for s in mine) / len(mine)
            layers[f"{k}.segments"] = len(bench.manifest(k)["segments"])
    return {
        "setup_s": setup_s,
        "latencies": lat,
        "attempted": len(lat),
        "failed": failed,
        "latency_p50_s": statistics.median(lat),
        "ops_per_s": len(lat) / sum(lat),
        "layers": layers,
    }

#!/usr/bin/env python
"""Compare two bench recordings query by query.

    python tools/compare_bench.py A.json B.json

A and B are ``BENCH_PERQUERY_c*.json`` sidecars or full ``bench.py``
artifacts (``BENCH_LOCAL_r*.json``): ``queries`` (name → median
seconds, null when the query failed) and, where the recording has it,
``counts`` (name → jobs/stages/tasks). Prints the number of
queries common to both, every common query whose jobs, stages or tasks
differ, and the B/A median-time ratio of every common query that
succeeded in both, largest first. Job counts repeat between runs of
the same code for nearly every query, so a count delta points at a
plan change (compare two runs of one commit to see which queries
vary); time ratios also carry host noise.
"""

from __future__ import annotations

import json
import sys


def compare(a: dict, b: dict) -> dict:
    """``n_common``, ``count_deltas`` (name → {"a": counts, "b": counts})
    and ``ratios`` ([name, B/A seconds ratio] sorted largest first)."""
    qa, qb = a.get("queries", {}), b.get("queries", {})
    ca, cb = a.get("counts", {}), b.get("counts", {})
    common = sorted(set(qa) & set(qb))
    deltas = {
        n: {"a": ca[n], "b": cb[n]}
        for n in common
        if n in ca and n in cb and ca[n] != cb[n]
    }
    ratios = sorted(
        ([n, round(qb[n] / qa[n], 3)] for n in common if qa[n] and qb[n] is not None),
        key=lambda r: (-r[1], r[0]),
    )
    return {"n_common": len(common), "count_deltas": deltas, "ratios": ratios}


def _load(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print("usage: python tools/compare_bench.py A.json B.json", file=sys.stderr)
        return 2
    a, b = (_load(p) for p in argv)
    res = compare(a, b)
    print(f"common queries: {res['n_common']}")
    print(f"count deltas (A -> B): {len(res['count_deltas'])}")
    for name, d in res["count_deltas"].items():
        parts = [f"{k} {d['a'][k]} -> {d['b'][k]}" for k in ("jobs", "stages", "tasks")]
        print(f"  {name}: " + ", ".join(parts))
    print("time ratios B/A (largest first):")
    for name, ratio in res["ratios"]:
        print(f"  {ratio:8.3f}  {name}  {a['queries'][name]} -> {b['queries'][name]} s")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

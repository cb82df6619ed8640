"""bench.py's outputs and the tools that read them: the final summary
line must fit the bench runner's 2,000-char stdout tail, the per-query
sidecar carries the full medians and Spark job counts, the timing
helper's counts repeat exactly between calls, and
``tools/compare_bench.py`` / ``tools/close_round.py`` read the
recordings."""

from __future__ import annotations

import importlib.util
import json
import os

_ROOT = os.path.join(os.path.dirname(__file__), "..")


def _load(name, *path):
    spec = importlib.util.spec_from_file_location(name, os.path.join(_ROOT, *path))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


bench = _load("bench_mod", "bench.py")


def test_close_round_picks_full_artifact_not_summary(tmp_path):
    """tools/close_round.py must select the FULL bench artifact (the
    line carrying "metric"), not the compact bench_summary line that
    bench.py prints last for the driver's 2000-char stdout tail."""
    cr = _load("close_round_mod", "tools", "close_round.py")
    full = {"metric": "suite_median_wall_sec", "value": 1.0, "queries": {}}
    # the summary line carries the contract keys too (metric/
    # value/unit + fitted queries); pick_artifact must still skip it
    # via the bench_summary marker
    summary = {
        "bench_summary": True,
        "metric": "suite_median_wall_sec",
        "value": 1.0,
        "unit": "sec",
        "suite_sec": 1.0,
        "n": 0,
        "queries": {"a": 1.0},
    }
    stdout = "\n".join(["# noise", json.dumps(full), json.dumps(summary)])
    assert cr.pick_artifact(stdout) == json.dumps(full)
    assert cr.pick_artifact("no json here\n{not json}") is None
    assert cr.pick_artifact(json.dumps(summary)) is None  # summary alone


def test_summary_line_stays_under_driver_tail_at_250_queries():
    """The truncation-proof contract at registry growth: a 250-query
    registry with long query names — the final summary line must stay
    under 1800 chars (the runner keeps 2000), i.e. the queries auto-fit
    does its job."""
    names = [f"docs_extremely_long_query_name_number_{i:04d}" for i in range(250)]
    per_query = {n: 1.2345 for n in names}
    line = bench.summary_line(
        308.1234, 250, 0.1, per_query,
        perquery_path="/srv/bench/BENCH_PERQUERY_c32.json",
    )
    assert len(line) < 1800, len(line)
    parsed = json.loads(line)
    assert parsed["bench_summary"] is True and parsed["n"] == 250
    # the contract keys ride the final line
    assert parsed["metric"] == "suite_median_wall_sec"
    assert parsed["value"] == 308.1234 and parsed["unit"] == "sec"
    assert parsed["bench_perquery_path"].endswith("BENCH_PERQUERY_c32.json")
    # the fitted queries map is non-empty, size-capped, and counts its
    # own truncation honestly
    assert parsed["queries"] and len(parsed["queries"]) < 250
    assert parsed["queries_truncated"] == 250 - len(parsed["queries"])


def test_summary_line_fits_budget_with_recorded_medians():
    """Built from the 213 medians of a recorded sf0.1 bench, the line
    stays within SUMMARY_LINE_BUDGET: each fitted entry is charged its
    ", " separator (2 chars), and queries_truncated is budgeted at its
    widest value."""
    with open(os.path.join(_ROOT, "BENCH_LOCAL_r14.json")) as fh:
        rec = json.load(fh)
    per_query = rec["queries"]
    assert len(per_query) == 213
    line = bench.summary_line(
        rec["value"], len(per_query), rec["sf"], per_query,
        perquery_path="/srv/bench/BENCH_PERQUERY_c32.json",
    )
    assert len(line) <= bench.SUMMARY_LINE_BUDGET, len(line)
    parsed = json.loads(line)
    assert len(parsed["queries"]) + parsed["queries_truncated"] == 213


def test_summary_line_small_registry_carries_full_queries_map():
    """Below the tail budget nothing is truncated: every query rides
    the final line, so a small-registry driver parse sees the complete
    map."""
    per_query = {f"q{i:02d}": round(0.1 * i, 4) for i in range(20)}
    line = bench.summary_line(10.0, 20, 0.1, per_query, perquery_path="/x.json")
    parsed = json.loads(line)
    assert parsed["queries"] == per_query
    assert parsed["queries_truncated"] == 0


def test_fit_queries_descending_cost_and_budget():
    per_query = {"cheap": 0.1, "mid": 1.0, "heavy": 9.0, "skip": None}
    fitted = bench._fit_queries(per_query, 10_000)
    assert list(fitted) == ["heavy", "mid", "cheap"]  # descending cost
    tiny = bench._fit_queries(per_query, len('"heavy": 9.0') + 4)
    assert list(tiny) == ["heavy"]  # budget admits only the worst
    assert bench._fit_queries(per_query, 0) == {}
    # the budget bounds the serialized map exactly
    for budget in range(2, 60):
        assert len(json.dumps(bench._fit_queries(per_query, budget))) <= budget


def test_write_perquery_roundtrip(tmp_path, monkeypatch):
    """The sidecar carries the FULL queries map and per-query counts at
    the path the summary line advertises — the machine-readable channel
    for 213 queries that cannot fit the 2000-char stdout tail."""
    monkeypatch.setattr(bench, "CPUS", "8")
    counts = {"a": {"jobs": 3, "stages": 4, "tasks": 9}}
    out = {
        "metric": "suite_median_wall_sec",
        "value": 1.5,
        "unit": "sec",
        "sf": 0.1,
        "queries": {"a": 1.0, "b": None},
        "counts": counts,
        "runs_sec": {"a": [1.1, 1.0, 0.9]},
        "suite_runs_sec": [1.1, 1.0, 0.9],
    }
    real = os.path.join
    monkeypatch.setattr(bench.os.path, "dirname", lambda p: str(tmp_path))
    path = bench._write_perquery(out)
    assert path == real(str(tmp_path), "BENCH_PERQUERY_c8.json")
    doc = json.loads(open(path).read())
    assert doc["queries"] == out["queries"]
    assert doc["counts"] == counts
    assert doc["cpus"] == 8


def test_time_query_counts_repeat(spark, sf_dir):
    """The timing helper's Spark counts are deterministic: two calls on
    the same cheap queries submit identical jobs/stages/tasks."""
    import __spark_entry__ as entry
    from perfbench.spans import JobCounter

    queries = entry.queries()
    counter = JobCounter(spark.sparkContext)
    # start after the jobs this session already ran (the status store
    # may have evicted the oldest ones, which the counter cannot scan)
    retained = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    if retained:
        counter.since(max(retained))
    for name in ("pricing_summary", "order_status_distribution"):
        calls = [
            bench.time_query(spark, counter, queries[name], sf_dir, runs=1)
            for _ in range(2)
        ]
        (med1, runs1, c1), (med2, runs2, c2) = calls
        assert len(runs1) == len(runs2) == 1 and med1 == runs1[0] > 0
        assert set(c1) == {"jobs", "stages", "tasks"}
        assert c1["jobs"] >= 1, (name, c1)
        assert c1 == c2, (name, c1, c2)


def test_compare_bench_common_count_and_job_delta(tmp_path, capsys):
    cb = _load("compare_bench_mod", "tools", "compare_bench.py")
    a = {
        "queries": {"q1": 1.0, "q2": 2.0, "q3": None, "only_a": 0.5},
        "counts": {
            "q1": {"jobs": 2, "stages": 3, "tasks": 10},
            "q2": {"jobs": 5, "stages": 6, "tasks": 20},
        },
    }
    b = {
        "queries": {"q1": 1.5, "q2": 1.0, "q3": 0.7, "only_b": 0.5},
        "counts": {
            "q1": {"jobs": 2, "stages": 3, "tasks": 10},
            "q2": {"jobs": 4, "stages": 6, "tasks": 20},
            "q3": {"jobs": 1, "stages": 1, "tasks": 1},
        },
    }
    res = cb.compare(a, b)
    assert res["n_common"] == 3
    assert res["count_deltas"] == {"q2": {"a": a["counts"]["q2"], "b": b["counts"]["q2"]}}
    assert res["ratios"] == [["q1", 1.5], ["q2", 0.5]]  # q3 failed in A
    pa, pb = tmp_path / "a.json", tmp_path / "b.json"
    pa.write_text(json.dumps(a))
    pb.write_text(json.dumps(b))
    assert cb.main([str(pa), str(pb)]) == 0
    printed = capsys.readouterr().out
    assert "common queries: 3" in printed
    assert "q2: jobs 5 -> 4, stages 6 -> 6, tasks 20 -> 20" in printed

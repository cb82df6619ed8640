"""Unit tests for tools/rotate_window.py — the generator of the
driver's 50-query verification window — and for the name-only
registry it writes. The ordering rules are load-bearing (a mis-rotation leaves stale driver
evidence), so they get direct coverage: evidence folding takes the
LATEST round per query, the window layout puts closers last and
warmers before their in-window dependents."""

from __future__ import annotations

import importlib.util
import json
import os
import sys

import pytest

_SPEC = importlib.util.spec_from_file_location(
    "rotate_window",
    os.path.join(os.path.dirname(__file__), "..", "tools", "rotate_window.py"),
)
rotate_window = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(rotate_window)


def test_fold_evidence_takes_latest_round_and_flags_red(tmp_path, monkeypatch):
    green = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    red = {"rows_match": False, "schema_match": True, "hash_match": False, "err": None}
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({"a": green, "b": green}))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({"a": red, "c": green}))
    monkeypatch.setattr(rotate_window, "REPO", str(tmp_path))
    ev = rotate_window.fold_evidence()
    assert ev["a"] == (2, False)  # latest verdict wins, red recorded
    assert ev["b"] == (1, True)
    assert ev["c"] == (2, True)


def test_order_window_moves_closers_last_and_warmers_first():
    names = [
        "streaming_windowed_kpi",
        "emb_knn_ivfpq",          # dependent, listed before its warmer
        "pipeline_end_to_end",
        "emb_knn_ivf",            # warmer
        "monitoring_stats",
        "docs_bm25_search",
    ]
    out = rotate_window.order_window(names)
    # closers at the very end, original relative order preserved
    assert out[-3:] == [
        "streaming_windowed_kpi",
        "pipeline_end_to_end",
        "monitoring_stats",
    ]
    # the warmer now precedes its dependent
    assert out.index("emb_knn_ivf") < out.index("emb_knn_ivfpq")
    assert sorted(out) == sorted(names)  # nothing lost or duplicated


def test_order_window_without_warmer_is_stable():
    names = ["q1", "q2", "streaming_x", "q3"]
    assert rotate_window.order_window(names) == ["q1", "q2", "q3", "streaming_x"]


def test_registry_matches_live_entrypoint():
    """The tool's registry view must be the live queries() names in
    registration order — a drift here would rotate phantom names."""
    sys.path.insert(0, rotate_window.REPO)
    import __spark_entry__ as entry

    assert rotate_window.registry() == list(entry.queries())


def test_registry_integrity():
    """Every registered name resolves to exactly one plain function
    that a ``PLAN_MODULES`` module defines under that name, and every
    query has exactly one oracle: ``test_oracle_diff`` parametrizes
    over the oracle keys, so a query that lost its oracle would
    otherwise silently leave the gate."""
    import inspect

    sys.path.insert(0, rotate_window.REPO)
    import __spark_entry__ as entry
    from ecommerce_realtime_pipeline_spark.plans._registry_order import (
        REGISTRY_ORDER,
    )

    module_names = {m.__name__ for m in entry.PLAN_MODULES}
    for name in REGISTRY_ORDER:
        definers = [
            m.__name__
            for m in entry.PLAN_MODULES
            if inspect.isfunction(getattr(m, name, None))
            and getattr(m, name).__module__ == m.__name__
        ]
        assert len(definers) == 1, (name, definers)
        fn = entry.queries()[name]
        assert fn.__name__ == name and fn.__module__ in module_names
    assert len(REGISTRY_ORDER) == len(set(REGISTRY_ORDER)) == 213
    assert set(entry.oracle_sql()) == set(entry.queries())


def test_docstring_carries_generated_rotation_summary():
    """The queries() docstring narrative is tool-emitted, so it must
    carry the generated ``round-N window:``
    composition line — and while the evidence state still matches
    generation time (no newer CORRECTNESS artifact has landed), the
    line must equal the summary recomputed FROM THE LIVE DICT, so the
    narrative can't drift from the registered order."""
    import re

    sys.path.insert(0, rotate_window.REPO)
    import __spark_entry__ as entry

    doc = entry.queries.__doc__
    m = re.search(r"round-(\d+) window: ", doc)
    assert m, "queries() docstring must carry the generated rotation summary"
    doc_round = int(m.group(1))
    ev = rotate_window.fold_evidence()
    nxt = rotate_window.next_round(ev)
    # the docstring may be one round stale in the gap between the
    # driver landing CORRECTNESS_r{N} and the next builder rotation,
    # never more
    assert doc_round in (nxt - 1, nxt)
    if doc_round == nxt:  # same evidence state as generation time
        window_live = list(entry.queries())[: rotate_window.WINDOW]
        assert rotate_window.window_summary(window_live, ev, nxt) in doc
        # layout constraints hold on the LIVE window: closers last
        closer_idx = [
            i
            for i, n in enumerate(window_live)
            if rotate_window._CLOSERS.match(n)
        ]
        assert closer_idx == list(
            range(len(window_live) - len(closer_idx), len(window_live))
        )


def test_plan_rotation_heads_never_checked_and_respects_new():
    """plan_rotation: never-driver-checked names head the window, a
    --new name with existing evidence is emitted exactly once (at the
    window tail), unknown names are dropped, and window+tail cover
    the registry exactly."""
    green = (1, True)
    reg = [f"q{i:03d}" for i in range(60)]
    ev = {n: green for n in reg if n not in ("q005", "q006")}
    window, tail = rotate_window.plan_rotation(
        ev, reg, new=["q007", "nope"], forced=["q059"]
    )
    assert window[:2] == ["q005", "q006"]  # never-checked first
    assert window[2] == "q059"  # forced next
    assert window[-1] == "q007"  # --new at the window tail
    combined = window + tail
    assert sorted(combined) == sorted(reg)  # exact cover, no dupes
    assert len(window) == rotate_window.WINDOW


def test_plan_rotation_invariants_hold_over_random_evidence():
    """Property coverage for the rotation planner: for arbitrary
    evidence states, (window, tail) exactly covers the registry with
    no duplicates, the window is WINDOW-sized whenever the registry
    is large enough, never-checked names all land in the window, and
    closers sit at the window's end."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    names = [f"q{i:03d}" for i in range(70)] + [
        "streaming_a",
        "monitoring_b",
        "pipeline_c",
    ]
    reg = names

    @settings(max_examples=50, deadline=None)
    @given(
        ev_rounds=st.dictionaries(
            st.sampled_from(names), st.integers(min_value=1, max_value=9)
        )
    )
    def check(ev_rounds):
        ev = {n: (r, True) for n, r in ev_rounds.items()}
        window, tail = rotate_window.plan_rotation(ev, reg)
        assert sorted(window + tail) == sorted(reg)
        never = [n for n in reg if n not in ev]
        # when never-checked names overflow the window they ALL stay
        # in it (they need evidence most); otherwise exactly WINDOW
        assert len(window) == max(rotate_window.WINDOW, len(never))
        assert all(n in window for n in never)
        closer_idx = [
            i for i, n in enumerate(window) if rotate_window._CLOSERS.match(n)
        ]
        assert closer_idx == list(
            range(len(window) - len(closer_idx), len(window))
        )
        # evidence ordering: the window takes a round-sorted PREFIX of
        # the aged list, so nothing in the tail is staler than the
        # freshest aged name inside the window
        in_ev = [ev[n][0] for n in window if n in ev]
        out_ev = [ev[n][0] for n in tail]
        if in_ev and out_ev:
            assert max(in_ev) <= min(out_ev)

    check()


def test_render_module_round_trips_the_order(tmp_path):
    """The generated _registry_order.py must exec cleanly and carry
    window+tail verbatim (order preserved) as bare names, with the
    narrative's summary line matching the emitted window — the
    one-file-diff rotation contract."""
    ev = {"a": (3, True), "b": (2, True)}
    window, tail = ["b", "a"], ["c"]
    src = rotate_window.render_module(window, tail, ev, 11)
    ns: dict = {}
    exec(compile(src, "_registry_order.py", "exec"), ns)
    assert ns["REGISTRY_ORDER"] == window + tail
    assert rotate_window.window_summary(window, ev, 11) in ns["NARRATIVE"]
    assert "never-checked late registrations" in ns["NARRATIVE"]  # c has no evidence


def test_live_registry_order_module_matches_entrypoint():
    """The live generated module IS what queries() serves: same names,
    same order (a stale or hand-edited module would silently rotate
    the wrong window)."""
    sys.path.insert(0, rotate_window.REPO)
    import __spark_entry__ as entry
    from ecommerce_realtime_pipeline_spark.plans._registry_order import (
        REGISTRY_ORDER,
    )

    assert REGISTRY_ORDER == list(entry.queries())


def test_validate_ref_rejects_typos_at_write_time():
    """--register validation: a nonexistent name must be rejected
    BEFORE it lands in the generated _registry_order.py (where it would
    only surface as a LookupError the next time queries() imports),
    and a real query name passes."""
    assert rotate_window.validate_name("docs_bm25_search") is None
    err = rotate_window.validate_name("no_such_function_xyz")
    assert err and "no plan module defines" in err
    # a module-level non-callable (e.g. a constant) is not a query
    err = rotate_window.validate_name("BM25_TERMS")
    assert err and "no plan module defines" in err
    # wrong-but-CALLABLE names: an imported helper (`load_table` —
    # defined in catalog, imported into every plan module) or a
    # class (`DataFrame`) must be rejected at write time, not at
    # driver run time
    err = rotate_window.validate_name("load_table")
    assert err and "no plan module defines" in err
    err = rotate_window.validate_name("DataFrame")
    assert err and "no plan module defines" in err

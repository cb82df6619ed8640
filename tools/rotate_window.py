#!/usr/bin/env python
"""Generate the driver-window rotation for ``__spark_entry__.queries()``.

The external driver verifies the FIRST 50 registered queries each
round, so registration order IS the verification rotation. Rewriting
the order by hand at 200+ queries is error-prone, so this tool derives
it mechanically:

1. Fold every ``CORRECTNESS_r*.json`` into a latest-evidence map
   (query -> last round with a driver row, plus whether it was green).
2. Order the window: never-driver-checked queries FIRST (they need
   evidence most), then everything else OLDEST EVIDENCE FIRST;
   queries named via ``--new`` (registered this round, no evidence by
   construction) are placed at the END of the non-streaming window
   instead of the front.
3. Apply the two standing layout constraints inside the window:
   - WARMERS_BEFORE: a dependent never precedes its session-memo
     warmer (ANN artifact reuse keeps the window cheap);
   - streaming/monitoring fixtures close the window, so a wall-budget
     cut costs the fewest rows.
4. The tail (positions 51+) is everything else, oldest evidence
   first, so the NEXT rotation can slice from the top.

WRITES the generated registration-order module
(``ecommerce_realtime_pipeline_spark/plans/_registry_order.py``): a
list of query NAMES that ``__spark_entry__.queries()`` resolves at
import time against ``__spark_entry__.PLAN_MODULES`` — each name is
the one plain function of that name a plan module defines, so the
order is the only thing the generated file records, and a rotation is
a ONE-FILE diff. A per-round evidence summary goes to stderr. Pass
``--force-window name ...`` to pin specific queries into the window
regardless of age (e.g. rows whose code changed this round);
``--freeze`` re-emits the CURRENT live order unchanged (the
refactor/migration path, no rotation); ``--register name ...`` appends
brand-new query names (each must resolve in a plan module);
``--stdout`` prints the module instead of writing it."""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = 50

#: session-memo warmers: key must precede any of its dependents that
#: share the window (the dependents reuse the warmer's cached ANN
#: artifacts — quantizer cells, PQ codebooks)
WARMERS_BEFORE = {
    "emb_knn_ivf": [
        "emb_knn_ivf_persisted",
        "emb_knn_ivfpq",
        "emb_semdedup",
        "emb_knn_same_label",
        "emb_recall_vs_probes",
        "emb_ann_recall",
    ],
    "emb_pq_codes": ["emb_knn_pq", "emb_knn_ivfpq"],
}

#: fixtures that should CLOSE the window (micro-batch machinery and
#: end-to-end pipelines — the most wall-expensive rows)
_CLOSERS = re.compile(r"^(streaming_|monitoring_|pipeline_)")


def fold_evidence() -> dict[str, tuple[int, bool]]:
    """query -> (latest round with a driver row, green on that row)."""
    out: dict[str, tuple[int, bool]] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"_r0*(\d+)", path).group(1))
        with open(path) as fh:
            rows = json.load(fh)
        for name, row in rows.items():
            green = bool(
                row.get("err") is None
                and row.get("rows_match")
                and row.get("schema_match") is not False
                and row.get("hash_match") is not False
            )
            out[name] = (rnd, green)
    return out


def _entry():
    sys.path.insert(0, REPO)
    import __spark_entry__ as entry  # noqa: PLC0415

    return entry


def registry() -> list[str]:
    """The live registered query names, in registration order."""
    return list(_entry().queries())


def validate_name(name: str) -> str | None:
    """Reject a ``--register`` name at WRITE time instead of letting a
    typo land in the generated ``_registry_order.py`` and only surface
    as a LookupError the next time ``__spark_entry__`` imports, after
    the one-file diff was already committed. Returns an error message,
    or None when exactly one plan module defines a plain function of
    that name: an imported helper (``load_table``), a class, a
    constant or a misspelled name all fail here."""
    try:
        _entry().resolve(name)
    except LookupError as exc:
        return str(exc)
    return None


def order_window(names: list[str]) -> list[str]:
    """Apply the in-window layout constraints: closers last, warmers
    before their in-window dependents (stable otherwise)."""
    body = [n for n in names if not _CLOSERS.match(n)]
    closers = [n for n in names if _CLOSERS.match(n)]
    for warmer, deps in WARMERS_BEFORE.items():
        if warmer not in body:
            continue
        first_dep = min(
            (body.index(d) for d in deps if d in body), default=None
        )
        if first_dep is not None and body.index(warmer) > first_dep:
            body.remove(warmer)
            body.insert(first_dep, warmer)
    return body + closers


def plan_rotation(
    ev: dict[str, tuple[int, bool]],
    reg: list[str],
    new: list[str] | tuple[str, ...] = (),
    forced: list[str] | tuple[str, ...] = (),
) -> tuple[list[str], list[str]]:
    """The rotation itself: (window, tail). Never-driver-checked
    queries head the window, then oldest evidence first; ``new``
    names (registered this round) go at the window tail before the
    closers; ``forced`` names are pinned into the window regardless
    of evidence age. Names absent from ``reg`` are ignored (callers
    warn), and ``new`` names are excluded from the aged list so a
    name can never be emitted twice."""
    pos = {n: i for i, n in enumerate(reg)}
    new = [n for n in new if n in reg]
    never = [n for n in reg if n not in ev and n not in new]
    aged = sorted(
        (n for n in reg if n in ev and n not in new),
        key=lambda n: (ev[n][0], pos[n]),
    )
    forced = [n for n in forced if n in reg and n not in new]
    head = never + [n for n in forced if n not in never]
    rest = [n for n in aged if n not in head]
    # clamp at 0: with more never-checked names than WINDOW slots
    # (early rounds), a negative take would NEGATIVE-SLICE rest and
    # silently drag nearly every aged name into the window
    take = max(0, WINDOW - len(head) - len(new))
    window = order_window(head + rest[:take] + new)
    tail = rest[take:]
    return window, tail


def window_summary(
    window: list[str], ev: dict[str, tuple[int, bool]], rnd: int
) -> str:
    """The canonical one-line window composition — emitted into the
    queries() docstring AND recomputed by the registry-matches-live
    test, so the narrative can't drift from the generated order."""
    by_round: dict[int, int] = {}
    for n in window:
        r = ev.get(n, (0, False))[0]
        by_round[r] = by_round.get(r, 0) + 1
    parts = [
        f"{c} never-checked" if r == 0 else f"{c} r{r}-evidence"
        for r, c in sorted(by_round.items())
    ]
    return f"round-{rnd} window: " + " + ".join(parts)


def next_round(ev: dict[str, tuple[int, bool]]) -> int:
    """The round this rotation is FOR: one past the newest folded
    driver artifact (0 evidence files -> round 1)."""
    return max((r for r, _ in ev.values()), default=0) + 1


#: where the generated registration-order module lives
MODULE_PATH = os.path.join(
    REPO, "ecommerce_realtime_pipeline_spark", "plans", "_registry_order.py"
)


def render_module(
    window: list[str],
    tail: list[str],
    ev: dict[str, tuple[int, bool]],
    rnd: int,
) -> str:
    """The full source of ``plans/_registry_order.py``: the ordered
    registration list of query names plus the narrative block
    ``__spark_entry__`` appends to the queries() docstring — both
    derived from the same rotation, so neither can drift from the
    other."""
    summary = window_summary(window, ev, rnd)
    n_never_tail = sum(1 for n in tail if n not in ev)
    tail_desc = (
        f"{len(tail)} driver-green rows"
        if not n_never_tail
        else (
            f"{len(tail)} rows ({len(tail) - n_never_tail} driver-green, "
            f"{n_never_tail} never-checked late registrations)"
        )
    )
    narrative = (
        f"{summary}; tail = {tail_desc}, oldest\n"
        "    evidence first, so the next rotation can slice from the top.\n"
        "    Head of the window: " + ", ".join(window[:3]) + "."
    )
    lines = [
        '"""Driver registration order — GENERATED by',
        "``tools/rotate_window.py``; regenerate, don't hand-edit.",
        "",
        "``__spark_entry__.queries()`` resolves each name against",
        "``PLAN_MODULES`` at import time, so registration order (the",
        "driver's 50-query sampling window) lives in exactly one generated",
        'file and a rotation is a one-file diff."""',
        "",
        "from __future__ import annotations",
        "",
        f"#: the driver checks the FIRST {WINDOW} entries each round",
        f"WINDOW = {WINDOW}",
        "",
        "#: generated narrative appended to the queries() docstring (and",
        "#: re-derived by tests/test_rotate_window.py, so it can't drift",
        "#: from the order below)",
        f"NARRATIVE = {narrative!r}",
        "",
        "#: query names in driver sampling order",
        "REGISTRY_ORDER: list[str] = [",
        "    # ---- positions 1-50: THE CHECK WINDOW ----",
    ]
    for n in window:
        r = ev.get(n, (None, None))[0]
        note = f"  # evidence: r{r}" if r else "  # NEW — no driver evidence yet"
        lines.append(f'    "{n}",{note}')
    lines.append(
        "    # ---- positions 51+: driver-green tail, oldest evidence first ----"
    )
    for n in tail:
        r = ev.get(n, (None, None))[0]
        note = f"  # evidence: r{r}" if r else "  # NEW — no driver evidence yet"
        lines.append(f'    "{n}",{note}')
    lines.append("]")
    return "\n".join(lines) + "\n"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--new", nargs="*", default=[], help="queries registered this round: placed at the window tail (before closers), not the front")
    ap.add_argument("--force-window", nargs="*", default=[], help="pin these into the window regardless of evidence age")
    ap.add_argument("--round", type=int, default=None, help="round number for the docstring block (default: newest CORRECTNESS round + 1)")
    ap.add_argument("--freeze", action="store_true", help="re-emit the CURRENT live order unchanged (migration/no-op path)")
    ap.add_argument("--stdout", action="store_true", help="print the generated module instead of writing it")
    ap.add_argument("--register", nargs="*", default=[], help="NEW query names, appended to the registry before planning; each must be the name of a plain function one plan module defines (combine with --freeze for post-rotation tail additions, or with --new for window-tail placement in a rotation)")
    args = ap.parse_args()

    ev = fold_evidence()
    reg = registry()
    for name in args.register:
        err = validate_name(name)
        if err:
            print(f"ERROR: --register {name!r}: {err}", file=sys.stderr)
            return 2
        if name in reg:
            print(f"WARNING: --register {name} already registered; ignored", file=sys.stderr)
            continue
        reg.append(name)
    missing = [n for n in ev if n not in reg]
    if missing:
        print(f"WARNING: evidence for unregistered queries: {missing}", file=sys.stderr)
    # --new / --force-window names must exist in the registry (a typo
    # would otherwise silently shrink the window)
    unknown = [n for n in [*args.new, *args.force_window] if n not in reg]
    if unknown:
        print(f"WARNING: not in registry, ignored: {unknown}", file=sys.stderr)
    red = [n for n in reg if n in ev and not ev[n][1]]
    if red:
        print(f"WARNING: latest driver verdict RED for: {red}", file=sys.stderr)

    if args.freeze:
        names = list(reg)
        window, tail = names[:WINDOW], names[WINDOW:]
    else:
        window, tail = plan_rotation(ev, reg, args.new, args.force_window)
    rnd = args.round if args.round is not None else next_round(ev)
    summary = window_summary(window, ev, rnd)
    print(f"window={len(window)} tail={len(tail)} {summary}", file=sys.stderr)

    src = render_module(window, tail, ev, rnd)
    if args.stdout:
        print(src, end="")
    else:
        with open(MODULE_PATH, "w") as fh:
            fh.write(src)
        print(f"wrote {os.path.relpath(MODULE_PATH, REPO)}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())

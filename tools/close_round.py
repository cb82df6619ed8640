#!/usr/bin/env python
"""Serialized round-close: pytest → multi-SF oracle sweep → recorded
bench, one after another, never overlapping, so the recorded
``BENCH_LOCAL_r{N}.json`` is timed with nothing else on the machine.

    python tools/close_round.py <round-number> [--skip-pytest] [--skip-sweep]

Steps (each must exit 0 before the next starts):
1. ``python -m pytest tests/ -x -q``
2. ``python tools/sweep_all.py <N>``  (writes SWEEPS_r{N}.md)
3. ``python bench.py``, whose full-artifact stdout line is written to
   BENCH_LOCAL_r{N}.json

Compare two recordings with ``tools/compare_bench.py``. Exit code is
the first failing step's.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def pick_artifact(stdout: str) -> str | None:
    """The FULL bench artifact line from bench.py stdout: scan from
    the END for the first JSON object carrying ``"metric"`` and NOT
    ``"bench_summary"`` — bench.py prints a compact ``bench_summary``
    line AFTER the artifact (for the runner's 2000-char stdout tail;
    it carries the contract keys too, so the summary-line
    marker must be excluded explicitly), and
    trailing non-JSON prints must be skipped, never recorded."""
    for line in reversed([l for l in stdout.splitlines() if l.strip()]):
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and "metric" in obj and not obj.get("bench_summary"):
            return line
    return None


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if len(args) != 1 or not args[0].isdigit():
        print("usage: python tools/close_round.py <round-number> [--skip-pytest] [--skip-sweep]", file=sys.stderr)
        return 2
    rnd = int(args[0])

    if "--skip-pytest" not in sys.argv:
        print(f"== step 1/3: pytest (serial) ==", file=sys.stderr)
        rc = subprocess.run(
            [sys.executable, "-m", "pytest", "tests/", "-x", "-q"], cwd=REPO
        ).returncode
        if rc != 0:
            return rc

    if "--skip-sweep" not in sys.argv:
        print(f"== step 2/3: multi-SF sweep ==", file=sys.stderr)
        rc = subprocess.run(
            [sys.executable, "tools/sweep_all.py", str(rnd)], cwd=REPO
        ).returncode
        if rc != 0:
            return rc

    print(f"== step 3/3: recorded bench (ALONE — do not run anything else) ==", file=sys.stderr)
    proc = subprocess.run(
        [sys.executable, "bench.py"], cwd=REPO, capture_output=True, text=True
    )
    sys.stderr.write(proc.stderr)
    if proc.returncode != 0:
        return proc.returncode
    last = pick_artifact(proc.stdout)
    if last is None:
        print("ERROR: bench.py stdout carried no full-artifact JSON line; artifact not written", file=sys.stderr)
        return 3
    out = os.path.join(REPO, f"BENCH_LOCAL_r{rnd:02d}.json")
    with open(out, "w") as fh:
        fh.write(last + "\n")
    print(f"wrote {out}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())

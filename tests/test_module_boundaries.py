"""Package modules use each other's public names only: no module
imports or reads another package module's ``_private`` name. Shared
machinery gets a public name in the module that owns it (commit and
lock steps in ``storage``, job overlap in ``session``, fixture
directories, the index fixtures and the fixture harness (scratch dirs,
conf pins, checked stream awaits) in ``plans.fixtures``, the BM25 and
phrase serves in ``plans.textsearch``, the streaming start path in
``streaming.ingest``, the partitioned index-segment write in
``operators.indexfmt``). The same holds for the scripts that drive the
package: ``bench.py``, ``__spark_entry__.py`` and ``tools/*.py``.
Tests are exempt."""

from __future__ import annotations

import ast
import pathlib

import ecommerce_realtime_pipeline_spark as PKG

ROOT = pathlib.Path(PKG.__file__).parent
REPO = ROOT.parent


def _modules() -> dict[str, pathlib.Path]:
    out = {}
    for path in ROOT.rglob("*.py"):
        parts = list(path.relative_to(ROOT.parent).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        out[".".join(parts)] = path
    return out


def _scripts() -> dict[str, pathlib.Path]:
    """The repository scripts that import the package, by module name."""
    paths = [REPO / "bench.py", REPO / "__spark_entry__.py"]
    paths += sorted((REPO / "tools").glob("*.py"))
    return {
        ".".join(p.relative_to(REPO).with_suffix("").parts): p for p in paths
    }


def _private(name: str) -> bool:
    return name.startswith("_") and not name.startswith("__")


def _reaches(name: str, path: pathlib.Path, modules: dict) -> list[str]:
    """Every ``from <pkg module> import _x`` and ``<module alias>._x``
    in one module that targets a DIFFERENT package module."""
    tree = ast.parse(path.read_text())
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    aliases: dict[str, str] = {}
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name in modules:
                    aliases[a.asname or a.name] = a.name
        elif isinstance(node, ast.ImportFrom):
            base = package.split(".")
            if node.level:
                base = base[: len(base) - node.level + 1]
                src = ".".join(base + ([node.module] if node.module else []))
            else:
                src = node.module
            for a in node.names:
                if f"{src}.{a.name}" in modules:
                    aliases[a.asname or a.name] = f"{src}.{a.name}"
                elif src in modules and src != name and _private(a.name):
                    found.append(f"{name}:{node.lineno} from {src} import {a.name}")
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and aliases.get(node.value.id, name) != name
            and _private(node.attr)
        ):
            found.append(f"{name}:{node.lineno} {node.value.id}.{node.attr}")
    return found


def test_no_module_reaches_into_another_modules_privates():
    modules = _modules()
    assert len(modules) > 40  # the scan sees the whole package
    scripts = _scripts()
    assert {"bench", "__spark_entry__", "tools.rotate_window"} <= set(scripts)
    scanned = {**modules, **scripts}
    reaches = [r for n, p in sorted(scanned.items()) for r in _reaches(n, p, scanned)]
    assert reaches == []


def test_scan_detects_both_reach_forms(tmp_path):
    """The scan itself: a private import and a private attribute read of
    another package module are both reported; a module's own privates
    and public names are not."""
    modules = _modules()
    probe = tmp_path / "probe.py"
    probe.write_text(
        "from ecommerce_realtime_pipeline_spark.streaming import ingest as I\n"
        "from ecommerce_realtime_pipeline_spark.streaming.ingest import _swap_buckets\n"
        "I._swap_buckets\n"
        "I.read_silver\n"
    )
    name = "ecommerce_realtime_pipeline_spark.probe"
    found = _reaches(name, probe, {**modules, name: probe})
    assert len(found) == 2
    assert all("_swap_buckets" in f for f in found)


def _stream_start_sites(name: str, path: pathlib.Path) -> set:
    """(module, innermost enclosing function or None, form) for every
    ``.writeStream`` read and ``.trigger(...)`` call in one module."""
    sites = set()

    def visit(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if isinstance(node, ast.Attribute) and node.attr == "writeStream":
            sites.add((name, fn, "writeStream"))
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "trigger"
        ):
            sites.add((name, fn, "trigger"))
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(ast.parse(path.read_text()), None)
    return sites


def test_one_streaming_start_path():
    """Every streaming query of the package starts through
    ``ingest.start_available_now``: no other function or module body
    builds a ``writeStream`` or sets a ``.trigger(``."""
    sites = set()
    for name, path in sorted(_modules().items()):
        sites |= _stream_start_sites(name, path)
    starter = "ecommerce_realtime_pipeline_spark.streaming.ingest"
    assert sites == {
        (starter, "start_available_now", "writeStream"),
        (starter, "start_available_now", "trigger"),
    }


def _segment_write_sites(path: pathlib.Path) -> list[str]:
    """Every DataFrameWriter ``.partitionBy(`` call and ``os.listdir``
    read in one module, as ``<line> <form>``; ``Window.partitionBy``
    is a window spec, not a write, and does not count."""
    found = []
    for node in ast.walk(ast.parse(path.read_text())):
        if not isinstance(node, ast.Attribute):
            continue
        if node.attr == "partitionBy" and not (
            isinstance(node.value, ast.Name) and node.value.id == "Window"
        ):
            found.append(f"{node.lineno} partitionBy")
        if node.attr == "listdir":
            found.append(f"{node.lineno} listdir")
    return found


def test_index_families_write_segments_through_indexfmt():
    """The text, positional and IVF index families write their
    partitioned segments through ``indexfmt.write_segment``, which
    reads the written layout back: ``operators/text.py`` and
    ``operators/similarity.py`` hold no ``.partitionBy(`` writer of
    their own and list no directory."""
    for name in ("text.py", "similarity.py"):
        assert _segment_write_sites(ROOT / "operators" / name) == [], name


def _harness_sites(path: pathlib.Path) -> list[str]:
    """Every ``tempfile.mkdtemp(`` call, ``.awaitTermination(`` call and
    ``spark.conf.set(`` call in one module, as ``<line> <form>``."""
    found = []
    for node in ast.walk(ast.parse(path.read_text())):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        func = node.func
        if func.attr == "mkdtemp":
            found.append(f"{node.lineno} mkdtemp")
        elif func.attr == "awaitTermination":
            found.append(f"{node.lineno} awaitTermination")
        elif (
            func.attr == "set"
            and isinstance(func.value, ast.Attribute)
            and func.value.attr == "conf"
        ):
            found.append(f"{node.lineno} conf.set")
    return found


def test_plan_fixtures_run_through_one_harness():
    """The plan modules make temp dirs, pin session confs and await
    stream runs only through ``plans/fixtures.py`` (``scratch_dir``,
    ``pinned_conf``, ``await_run``): no other ``plans/*.py`` module calls
    ``tempfile.mkdtemp``, ``.awaitTermination(`` or ``spark.conf.set(``."""
    plans = sorted((ROOT / "plans").glob("*.py"))
    assert len(plans) > 10  # the scan sees the plan modules
    sites = {
        path.name: found
        for path in plans
        if path.name != "fixtures.py" and (found := _harness_sites(path))
    }
    assert sites == {}
    assert {"mkdtemp", "awaitTermination", "conf.set"} == {
        s.split()[1] for s in _harness_sites(ROOT / "plans" / "fixtures.py")
    }


def test_one_streaming_query_listener():
    """``ingest.StatsListener`` is the package's only
    ``StreamingQueryListener``: a fixture reads per-query progress from
    its own queries' ``recentProgress`` instead of a session-global
    listener."""
    listeners = []
    for name, path in sorted(_modules().items()):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ClassDef) and any(
                (b.id if isinstance(b, ast.Name) else getattr(b, "attr", None))
                == "StreamingQueryListener"
                for b in node.bases
            ):
                listeners.append(f"{name}.{node.name}")
    assert listeners == ["ecommerce_realtime_pipeline_spark.streaming.ingest.StatsListener"]

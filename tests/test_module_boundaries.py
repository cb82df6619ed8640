"""Package modules use each other's public names only: no module
imports or reads another package module's ``_private`` name. Shared
machinery gets a public name in the module that owns it (commit and
lock steps in ``storage``, job overlap in ``session``, fixture
directories in ``plans.fixtures``, the streaming start path in
``streaming.ingest``, the partitioned index-segment write in
``operators.indexfmt``). Tests are exempt."""

from __future__ import annotations

import ast
import pathlib

import ecommerce_realtime_pipeline_spark as PKG

ROOT = pathlib.Path(PKG.__file__).parent


def _modules() -> dict[str, pathlib.Path]:
    out = {}
    for path in ROOT.rglob("*.py"):
        parts = list(path.relative_to(ROOT.parent).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        out[".".join(parts)] = path
    return out


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
    reaches = [r for n, p in sorted(modules.items()) for r in _reaches(n, p, modules)]
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

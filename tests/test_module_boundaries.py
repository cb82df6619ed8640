"""Package modules use each other's public names only: no module
imports or reads another package module's ``_private`` name. Shared
machinery gets a public name in the module that owns it (the parquet
read step and the commit and lock steps in ``storage``, job overlap and the build-once memo in
``session``, fixture directories, the index fixtures and the fixture
harness (scratch dirs, conf pins, checked stream awaits) in
``plans.fixtures``, the BM25 and phrase serves in ``plans.textsearch``,
the streaming start path in ``streaming.ingest``, the partitioned
index-segment write in ``operators.indexfmt``). The same holds for
the scripts that drive the package: ``bench.py``,
``__spark_entry__.py`` and ``tools/*.py``. Tests are exempt."""

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
        "from ecommerce_realtime_pipeline_spark import storage as S\n"
        "from ecommerce_realtime_pipeline_spark.storage import _swap_unit\n"
        "S._swap_unit\n"
        "S.swap_dir\n"
    )
    name = "ecommerce_realtime_pipeline_spark.probe"
    found = _reaches(name, probe, {**modules, name: probe})
    assert len(found) == 2
    assert all("_swap_unit" in f for f in found)


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


def _module_caches(path: pathlib.Path) -> list[str]:
    """Every module-level name ending in ``_CACHE`` bound in one
    module (plain or annotated assignment)."""
    found = []
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AnnAssign):
            targets = [node.target]
        else:
            continue
        for t in targets:
            if isinstance(t, ast.Name) and t.id.endswith("_CACHE"):
                found.append(t.id)
    return found


def test_build_once_artifacts_memoize_through_session():
    """The session's build-once artifacts (IVF quantizer, cells and
    centroid table, PQ codes, k-means, the kNN graph, BPE training, the
    near-dup cluster table) are memoized through ``session.memo``: no
    package module but ``session.py`` binds a module-level ``*_CACHE``
    name."""
    caches = {
        f"{name}.{c}"
        for name, path in _modules().items()
        if path.name != "session.py"
        for c in _module_caches(path)
    }
    assert caches == set()


def _parquet_reads(path: pathlib.Path) -> list[str]:
    """The enclosing function of every batch parquet read in one
    module: a ``.parquet(`` call whose receiver chain passes through
    ``.read`` (``spark.read.parquet``, ``spark.read.schema(s).parquet``);
    ``readStream`` is another attribute and stays out."""

    def reads(node) -> bool:
        while isinstance(node, (ast.Attribute, ast.Call)):
            if isinstance(node, ast.Attribute):
                if node.attr == "read":
                    return True
                node = node.value
            else:
                node = node.func
        return False

    found: list[str] = []
    stack: list[str] = []

    class Visitor(ast.NodeVisitor):
        def visit_FunctionDef(self, node):
            stack.append(node.name)
            self.generic_visit(node)
            stack.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def visit_Call(self, node):
            f = node.func
            if isinstance(f, ast.Attribute) and f.attr == "parquet" and reads(f.value):
                found.append(".".join(stack) or "<module>")
            self.generic_visit(node)

    Visitor().visit(ast.parse(path.read_text()))
    return found


def test_one_parquet_read_step():
    """Every batch parquet read of the package goes through
    ``storage.read_parquet``, which reads with a declared schema or the
    schema ``storage.parquet_schema`` memoizes per file version: no
    other function calls ``.read.parquet(`` and pays Spark's inference
    job."""
    sites = {
        f"{name}.{fn}"
        for name, path in _modules().items()
        for fn in _parquet_reads(path)
    }
    storage = "ecommerce_realtime_pipeline_spark.storage"
    assert sites == {f"{storage}.read_parquet", f"{storage}.parquet_schema"}


#: ``os.rename`` sites with a commit protocol of their own: the index
#: family's one-rename publish of a fully staged directory, and the
#: producer's move of staged topic files into their topic directory
_OWN_RENAME_PROTOCOLS = {
    "ecommerce_realtime_pipeline_spark.operators.indexfmt.publish_stage",
    "ecommerce_realtime_pipeline_spark.sources.produce.write_topic",
}


def _swap_sites(name: str, path: pathlib.Path) -> set:
    """(enclosing function, form) for every string constant spelling a
    swap staging name (``__tmp_``/``__old_``, docstrings included) and
    every ``os.rename``/``os.replace`` call in one module."""
    sites = set()

    def visit(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = f"{name}.{node.name}"
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and ("__tmp_" in node.value or "__old_" in node.value)
        ):
            sites.add((fn or name, "staging name"))
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("rename", "replace")
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "os"
        ):
            sites.add((fn or name, f"os.{node.func.attr}"))
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(ast.parse(path.read_text()), None)
    return sites


def test_one_swap_step():
    """``storage.swap_dir`` is the package's one directory swap and
    ``storage.recover`` the one reader of its crash record: no other
    module spells the ``__tmp_``/``__old_`` staging names or renames a
    directory, bar the named protocols of ``_OWN_RENAME_PROTOCOLS``."""
    sites = {
        site
        for name, path in _modules().items()
        if path.name != "storage.py"
        for site in _swap_sites(name, path)
    }
    assert sites == {(fn, "os.rename") for fn in _OWN_RENAME_PROTOCOLS}


def test_swap_scan_detects_staging_names_and_renames(tmp_path):
    """The scan itself: a staging name in a format string and an
    ``os.rename`` call are both reported with their function."""
    probe = tmp_path / "probe.py"
    probe.write_text(
        "import os\n"
        "def swap(path, b):\n"
        "    old = f'{path}__old_{b}'\n"
        "    os.rename(path, old)\n"
    )
    assert _swap_sites("probe", probe) == {
        ("probe.swap", "staging name"),
        ("probe.swap", "os.rename"),
    }


def _oracle_bindings(path: pathlib.Path) -> tuple[bool, list[str]]:
    """Whether one module binds ``ORACLES`` by a module-level assignment
    in its own source, and every import in it that brings an ``ORACLES``
    in (``module:line``)."""
    tree = ast.parse(path.read_text())
    assigned = any(
        isinstance(t, ast.Name) and t.id == "ORACLES"
        for node in tree.body
        if isinstance(node, (ast.Assign, ast.AnnAssign))
        for t in (node.targets if isinstance(node, ast.Assign) else [node.target])
    )
    imports = [
        f"{getattr(node, 'module', None) or a.name}:{node.lineno}"
        for node in ast.walk(tree)
        if isinstance(node, (ast.Import, ast.ImportFrom))
        for a in node.names
        if (a.asname or a.name) == "ORACLES"
    ]
    return assigned, imports


def test_each_oracle_beside_its_query():
    """Every plan module binds its own ``ORACLES`` (an assignment in its
    source, never an import of another module's), keyed by exactly the
    queries that ``__spark_entry__.resolve`` maps to it: a query's
    oracle lives in the module that defines the query."""
    import __spark_entry__ as entry

    assert len(entry.PLAN_MODULES) >= 10  # the scan sees the plan modules
    queries: dict[str, set] = {}
    for name in entry.queries():
        queries.setdefault(entry.resolve(name).__module__, set()).add(name)
    borrowed = {
        mod.__name__: bindings
        for mod in entry.PLAN_MODULES
        if (bindings := _oracle_bindings(pathlib.Path(mod.__file__))) != (True, [])
    }
    assert borrowed == {}
    misplaced = {
        mod.__name__: set(mod.ORACLES) ^ queries.get(mod.__name__, set())
        for mod in entry.PLAN_MODULES
        if set(mod.ORACLES) != queries.get(mod.__name__, set())
    }
    assert misplaced == {}


def test_oracle_scan_tells_an_own_binding_from_an_import(tmp_path):
    """The scan itself: a module-level assignment counts as the module's
    own ``ORACLES``; an import of another module's does not, and is
    reported."""
    own = tmp_path / "own.py"
    own.write_text('ORACLES: dict[str, str] = {}\nORACLES["q"] = "SELECT 1"\n')
    borrowed = tmp_path / "borrowed.py"
    borrowed.write_text(
        "from pkg.plans.oracles import ORACLES  # noqa: F401\n"
        "def f():\n"
        "    ORACLES = {}\n"
    )
    assert _oracle_bindings(own) == (True, [])
    assert _oracle_bindings(borrowed) == (False, ["pkg.plans.oracles:1"])


#: the operator families whose every option must have a caller
_OPTION_MODULES = (
    "operators/similarity.py",
    "operators/dedup.py",
    "streaming/neardup.py",
    "streaming/embdedup.py",
    "plans/ann.py",
)


def _calling_files() -> list[pathlib.Path]:
    """The package, the scripts, the benchmark and the tests."""
    paths = sorted(ROOT.rglob("*.py")) + list(_scripts().values())
    for d in ("perfbench", "tests"):
        paths += sorted((REPO / d).glob("*.py"))
    return paths


def _unset_options(defining: pathlib.Path, callers: list[pathlib.Path]) -> list[str]:
    """Every ``function(param=)`` of ``defining`` whose parameter has a
    default that no call in ``callers`` passes, by keyword or by
    position. Calls match by function name, after resolving
    ``from … import x as y`` aliases; ``functools.partial(f, …)``
    counts as a call of ``f``."""
    options = {}
    for node in ast.walk(ast.parse(defining.read_text())):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            a = node.args
            pos = a.posonlyargs + a.args
            first = len(pos) - len(a.defaults)
            for i, arg in enumerate(pos[first:], first):
                options[(node.name, arg.arg)] = i
            for arg, default in zip(a.kwonlyargs, a.kw_defaults):
                if default is not None:
                    options[(node.name, arg.arg)] = None
    passed = set()
    for path in callers:
        tree = ast.parse(path.read_text())
        alias = {
            a.asname: a.name
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom)
            for a in node.names
            if a.asname
        }
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            func, args = node.func, node.args
            name = getattr(func, "id", None) or getattr(func, "attr", None)
            if name == "partial" and args:
                func, args = args[0], args[1:]
                name = getattr(func, "id", None) or getattr(func, "attr", None)
            name = alias.get(name, name)
            passed.update((name, kw.arg) for kw in node.keywords)
            for i, arg in enumerate(args):
                if isinstance(arg, ast.Starred):
                    break
                passed.add((name, i))
    return [
        f"{fn}({param}=)"
        for (fn, param), i in options.items()
        if (fn, param) not in passed and (i is None or (fn, i) not in passed)
    ]


def test_every_option_has_a_caller():
    """The ANN and near-dup operator families keep no option that no
    caller sets: every defaulted parameter of every function in
    ``_OPTION_MODULES`` is passed somewhere in the package, the
    scripts, the benchmark or the tests. An option nothing passes is a
    configuration nothing runs; it belongs in a constant."""
    callers = _calling_files()
    assert len(callers) > 80  # the scan sees every calling file
    unset = {
        mod: found
        for mod in _OPTION_MODULES
        if (found := _unset_options(ROOT / mod, callers))
    }
    assert unset == {}


def test_option_scan_resolves_aliases_positions_and_partials(tmp_path):
    """The scan itself: an option passed by position through an import
    alias counts, as does a keyword bound by ``functools.partial``; a
    keyword-only option no call passes is reported, and so is one that
    only its own default sets."""
    defining = tmp_path / "ops.py"
    defining.write_text(
        "def f(a, b=1, *, c=2):\n    return g()\n"
        "def g(x=0):\n    return x\n"
        "def h(y=0):\n    return y\n"
    )
    caller = tmp_path / "use.py"
    caller.write_text(
        "from functools import partial\n"
        "from ops import f as _f, h\n"
        "_f(1, 2)\n"
        "partial(h, y=3)\n"
    )
    assert _unset_options(defining, [defining, caller]) == ["f(c=)", "g(x=)"]


def test_read_mix_queries_stay_in_their_span_families():
    """perfbench's ``read_mix`` names a query's span family after the
    last name of its plan module (``ReadMix.family``) and reports only
    ``readmix.FAMILIES``: every ``READ_QUERIES`` query must resolve into
    one of those modules, and each family must keep one, or a module
    split zeroes the ``kpi.*``/``dq.*``/``temporal.*`` counters silently."""
    import __spark_entry__ as entry
    from perfbench import readmix
    from perfbench.metrics import READ_QUERIES

    family = {
        q: entry.resolve(q).__module__.rpartition(".")[2] for q in READ_QUERIES
    }
    assert {q: f for q, f in family.items() if f not in readmix.FAMILIES} == {}
    assert set(family.values()) == set(readmix.FAMILIES)

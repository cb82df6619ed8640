"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — name → (spark, sf_dir) -> DataFrame, one per implemented
operator from SURVEY.md §2.
``oracle_sql()`` — name → DuckDB-runnable ANSI SQL equivalent (omitted
for non-SQL-expressible ops, which get a rows-only check).
"""

from __future__ import annotations

import inspect
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ecommerce_realtime_pipeline_spark.plans import (
    ann,
    dedup,
    dq,
    gen,
    graph,
    kpi,
    mining,
    multimodal,
    streams,
    temporal,
    textsearch,
    tpch,
    training,
)
from ecommerce_realtime_pipeline_spark.plans._registry_order import (
    NARRATIVE,
    REGISTRY_ORDER,
)
from ecommerce_realtime_pipeline_spark.plans.sqlhints import materialize_all

#: the plan modules, one per query family: each defines its queries as
#: plain functions named like the query, and an ``ORACLES`` dict
PLAN_MODULES = (
    kpi, tpch, graph, mining, dq, temporal, gen, streams, dedup, ann, textsearch,
    training, multimodal,
)


def resolve(name: str) -> Callable[[SparkSession, str], DataFrame]:
    """The one plain function named ``name`` that a ``PLAN_MODULES``
    module defines (an import of it into another module does not
    count); raises when no module or more than one defines it."""
    found = [
        fn
        for mod in PLAN_MODULES
        if inspect.isfunction(fn := getattr(mod, name, None))
        and fn.__module__ == mod.__name__
    ]
    if not found:
        raise LookupError(
            f"{name!r} is not a query: no plan module defines a plain "
            "function of that name"
        )
    if len(found) > 1:
        raise LookupError(
            f"query {name!r} is defined by more than one plan module: "
            f"{[fn.__module__ for fn in found]}"
        )
    return found[0]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: top products by revenue
    (lineitem ⋈ broadcast(part) → partial-agg → top-k)."""
    return kpi.top_products_by_revenue(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    REGISTRATION ORDER IS THE DRIVER'S SAMPLING ORDER: the external
    harness checks the FIRST 50 registered queries per round, so the
    ordering is by verification need, not by topic — and it lives in
    ONE GENERATED FILE, ``plans/_registry_order.py``, written by
    ``tools/rotate_window.py`` (fold of every CORRECTNESS_r*.json,
    oldest evidence first, warmers before dependents, streaming
    fixtures last; the round number and composition line are gated by
    ``tests/test_rotate_window.py``). A rotation is a one-file diff;
    regenerate, don't hand-edit:

        python tools/rotate_window.py

    Each registered name is resolved to its plan function at import
    time (:func:`resolve`), so a name that no plan module defines, or
    that two define, fails the import. The generated narrative for the
    current rotation is appended to this docstring at import time
    (below).
    """
    return dict(_QUERIES)


_QUERIES = {name: resolve(name) for name in REGISTRY_ORDER}


# the tool-generated rotation narrative rides the generated module so
# it can never drift from the order (test-gated)
queries.__doc__ = (queries.__doc__ or "") + "\n    " + NARRATIVE + "\n    "


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query (same column names/types/values) —
    one for EVERY queries() entry. Three oracle classes, each named at
    its definition: computed replicas (the ANN pipelines with LSH
    planes/quantizers inlined, the multimodal decode round-trip, the
    iterative algorithms as recursive/chained CTEs, the sketches whose
    ESTIMATES match bit-for-bit, the streaming HLL whose oracle
    re-derives the registers from first principles), analytic contract
    oracles (streaming fixtures whose outputs are paper-derivable
    constants), and two FROZEN-CONTRACT (golden) oracles for the
    seed-deterministic generator outputs (gen_corrupt_validate_metrics,
    streaming_ingest_roundtrip) — weaker than computed oracles but
    still a full value-hash gate, and double-pinned by pytest.
    """
    # AS MATERIALIZED on every non-recursive CTE: identical results,
    # but stops DuckDB re-inlining shared CTEs (the shingle self-joins)
    # and re-running them per RECURSIVE iteration (the CC oracles went
    # 12-14 s → <2 s; suite oracle time 77 s → ~25 s). See sqlhints.py.
    return materialize_all(
        {name: sql for mod in PLAN_MODULES for name, sql in mod.ORACLES.items()}
    )

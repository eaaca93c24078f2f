"""Query/operator inventory — the graded surface.

The gate contract: each entry pairs a Spark implementation
(DataFrame/SQL API, Catalyst-optimized) with an ANSI-SQL oracle DuckDB
runs on the same parquet tables, and is registered by one
``gate(fn, oracle)`` line after the oracle. A gate calls the library
operator it checks, never a private copy of it; the oracle stays
hand-written SQL, the independent reference. Names map to SURVEY.md §2
rows or north-star extensions (dedup / similarity / text analysis /
multimodal). Each gate lives in the module of its operator family
(``relational``, ``windows``, ``dedup``, ...), and a gate's family is
that module's name; the helpers the families share are in ``_common``.

Determinism rules (the driver hash-compares values):
- every computed column is aliased identically on both sides;
- float aggregates are ROUND(x, 2)-ed on BOTH sides (Spark and DuckDB sum
  doubles in different orders; the ~1e-10 relative fp noise disappears at
  2 decimals);
- top-k queries always carry a unique tiebreak key in ORDER BY.

Scale notes are inline per query: broadcasts for dims, pushed-down range
filters, no driver-side loops; at 100 TB every gate is a
scan→(broadcast)join→partial-agg shuffle plan with AQE skew handling.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


# The registry: gate name -> Spark implementation, and gate name ->
# DuckDB oracle SQL. Filled only through gate(); the driver contract
# (__spark_entry__.queries / oracle_sql) fixes the order callers see.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def gate(fn: Callable[[SparkSession, str], DataFrame], oracle: str) -> None:
    """Register ``fn`` under its own name with the DuckDB ``oracle``
    SQL that must reproduce its result. Called once per gate, right
    after the oracle constant (most oracles are defined after their
    function, so a decorator could not see them). A name registered
    twice raises: the second would silently replace the first."""
    name = fn.__name__
    if name in QUERIES:
        raise ValueError(f"gate {name!r} is already registered")
    QUERIES[name] = fn
    ORACLES[name] = oracle


# Importing a family module runs its gate(...) lines.
from . import (  # noqa: E402,F401
    analytics, crawl, dataset, dedup, graph, multimodal, relational, scalar,
    similarity, sources, streaming, text, windows,
)

"""Plan-shape audits for scale readiness.

The one recurring 100 TB killer class in this codebase's history is a
*forced* broadcast hint on an SF-growing join side: unlike AQE's
stats-driven broadcast conversion, a hint never backs off, so a side
that is 20k rows at sf0.1 but billions of rows at 100 TB aborts the
job at Spark's 8 GB broadcast hard limit.

``fact_broadcast_violations`` walks the *analyzed logical plan* via
py4j (not its text rendering — ``Relation`` toString omits file
paths, so text matching cannot see which table a scan reads) and
returns every ResolvedHint subtree that reaches an SF-growing
parquet leaf without passing through a bounding operator
(grouping-free Aggregate => exactly 1 row at any SF; Limit => ≤ n
rows at any SF).

Used by the all-query sweep in tests/test_topology_dsl.py, which
checks every flagged query against its adjudicated ``ALLOW`` list.
"""
from __future__ import annotations

from pyspark.sql import DataFrame

# Tables whose row count grows linearly with scale factor.  nation
# (25 rows) and region (5 rows) are bounded by the spec and fine to
# force-broadcast at any SF.
FACT_TABLES = (
    "customer",
    "orders",
    "lineitem",
    "supplier",
    "part",
    "events",
    "documents",
    "embeddings",
)

_BOUNDING_LIMITS = {"GlobalLimit", "LocalLimit"}


def _children(node):
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


def _cls(node) -> str:
    return node.getClass().getSimpleName()


def _leaf_tables(leaf) -> set[str]:
    """SF-growing table names a leaf scan reads, from its file paths."""
    out: set[str] = set()
    try:
        if _cls(leaf) == "LogicalRelation":
            loc = leaf.relation().location()
            roots = loc.rootPaths()
            paths = [roots.apply(i).toString() for i in range(roots.size())]
        elif _cls(leaf) in ("DataSourceV2Relation", "DataSourceV2ScanRelation"):
            paths = [leaf.name()]
        else:  # LocalRelation / Range / streaming sources: bounded or pathless
            return out
    except Exception:  # pragma: no cover - defensive against API drift
        return out
    for p in paths:
        for t in FACT_TABLES:
            if f"{t}.parquet" in p:
                out.add(t)
    return out


def _is_bounding(node) -> bool:
    """True when the subtree below this node reaches the hint with a
    row count bounded independent of SF."""
    c = _cls(node)
    if c in _BOUNDING_LIMITS:
        return True
    if c == "Aggregate":
        try:
            return node.groupingExpressions().isEmpty()  # global agg: 1 row
        except Exception:  # pragma: no cover
            return False
    return False


def _unbounded_fact_leaves(node) -> set[str]:
    """SF-growing tables reachable from ``node`` with no bounding
    operator on the path."""
    if _is_bounding(node):
        return set()
    kids = _children(node)
    if not kids:
        return _leaf_tables(node)
    out: set[str] = set()
    for k in kids:
        out |= _unbounded_fact_leaves(k)
    return out


def _collect_hints(node, acc):
    if _cls(node) == "ResolvedHint":
        acc.append(node)
    for k in _children(node):
        _collect_hints(k, acc)


def fact_broadcast_violations(df: DataFrame) -> list[str]:
    """Return a description of every forced-broadcast subtree in
    ``df``'s analyzed plan that reaches an SF-growing parquet scan
    without a bounding (global-agg / limit) operator in between.

    Empty list == the plan passes the 100 TB broadcast gate.
    """
    analyzed = df._jdf.queryExecution().analyzed()
    hints: list = []
    _collect_hints(analyzed, hints)
    violations = []
    for h in hints:
        facts = _unbounded_fact_leaves(h)
        if facts:
            head = "\n".join(h.toString().splitlines()[:10])
            violations.append(f"unbounded fact tables {sorted(facts)} under hint:\n{head}")
    return violations


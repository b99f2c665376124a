"""Physical-plan inspection and assertion utilities.

"Would this plan survive a 100× scale-up?" is checked here, not guessed:
tests assert that filters reach the parquet scan (PushedFilters), scans
read only needed columns (ReadSchema), small dims broadcast, sorts+limits
become TakeOrderedAndProject, and no unintended CartesianProduct appears.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def _explain(df: DataFrame, mode: str) -> str:
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def formatted_plan(df: DataFrame) -> str:
    return _explain(df, "formatted")


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries across every parquet scan in the plan."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df)):
        entry = m.group(1).strip()
        if entry:
            out.extend(p.strip() for p in entry.split(","))
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema strings of every file scan (column-pruning evidence)."""
    return re.findall(r"ReadSchema: (struct<[^\n]*)", formatted_plan(df))


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df) or "BroadcastNestedLoopJoin" in formatted_plan(df)


def has_take_ordered(df: DataFrame) -> bool:
    return "TakeOrderedAndProject" in formatted_plan(df)


#: signature column of each SF-scaled table (grows with the corpus).
#: nation/region are absent on purpose: fixed-cardinality dims are the
#: ONE class of table a hardcoded broadcast hint is safe on.
SF_TABLE_SIGNATURES = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "part": "p_partkey",
    "supplier": "s_suppkey",
    "customer": "c_custkey",
    "documents": "doc_id",
    "embeddings": "vec_id",
    "events": "event_id",
}

#: logical operators that bound the cardinality of a hint's subtree:
#: a global/grouped aggregate collapses the scan to its key domain, a
#: limit caps rows outright. Deliberately permissive: a grouped
#: aggregate over an SF-scaled key (e.g. per-supplier revenue) is NOT
#: generally bounded, but every such hint in this repo aggregates to a
#: bounded domain (query terms, event types, one row) — a future hint
#: on a genuinely SF-scaled grouped aggregate would PASS this detector,
#: so review new F.broadcast(…groupBy…) sites by hand.
_BOUNDING_NODE = re.compile(
    r"^[\s+:\-]*(Aggregate|GlobalLimit|Deduplicate|Distinct) ", re.M
)


def forced_broadcast_sf_scans(df: DataFrame) -> list[tuple[list[str], str]]:
    """Hint-forced broadcasts whose build side scans an SF-scaled table
    with no bounding aggregate/limit beneath — the q9 scale-bug shape
    (NOTES_r7 item 6: a forced broadcast of a corpus-scaled table is an
    executor OOM at 100 TB; the strategy must be left to AQE).

    Walks the *analyzed* logical plan, where ``F.broadcast(...)`` is
    still a visible ``ResolvedHint`` node (the optimizer later folds it
    into the join, indistinguishable from an AQE decision). Returns one
    ``(tables, build_side_head)`` tuple per offending hint."""
    out: list[tuple[list[str], str]] = []
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "ResolvedHint":
            subtree = node.toString()
            if "broadcast" in subtree.splitlines()[0]:
                bounded = bool(_BOUNDING_NODE.search(subtree))
                tables = set()
                for m in re.finditer(r"Relation \[([^\]]*)\]", subtree):
                    cols = m.group(1)
                    for table, sig in SF_TABLE_SIGNATURES.items():
                        if sig + "#" in cols:
                            tables.add(table)
                if tables and not bounded:
                    head = subtree.splitlines()[1].strip()[:120]
                    out.append((sorted(tables), head))
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return out

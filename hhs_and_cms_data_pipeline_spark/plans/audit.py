"""Physical-plan audit helpers (SURVEY §4).

The scale posture of every operator is asserted in tests/test_plans.py with
these helpers: filters must reach the Parquet scan (PushedFilters), scans
must be column-pruned (ReadSchema), small dims must broadcast, and map-only
stages must show zero Exchange. A plan regression that silently adds a
shuffle or widens a scan fails CI — the 100 TB design is enforced, not
aspirational.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The EXPLAIN FORMATTED text of the DataFrame's physical plan."""
    spark = df.sparkSession
    return spark._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(plan: str) -> list[str]:
    """All PushedFilters lists found in the plan (one per scan)."""
    return re.findall(r"PushedFilters: \[([^\]]*)\]", plan)


def read_schemas(plan: str) -> list[str]:
    """All ReadSchema structs found in the plan (one per scan)."""
    return re.findall(r"ReadSchema: struct<([^>]*)>", plan)


def count_exchanges(plan: str) -> int:
    """Shuffle exchanges in the plan (excludes broadcast exchanges)."""
    return len(re.findall(r"\(\d+\) Exchange\b", plan))


def exchange_origins(plan: str) -> list[str]:
    """Shuffle origin (ENSURE_REQUIREMENTS, REPARTITION_BY_NUM, ...) of each
    Exchange node in the operator-tree section, read from that node's
    ``Arguments`` line in the detail section."""
    tree, _, details = plan.partition("\n\n")
    args = dict(
        re.findall(r"^\((\d+)\) Exchange\n(?:.+\n)*?Arguments: (.*)$", details, re.M)
    )
    origin = re.compile(r"\b(ENSURE_REQUIREMENTS|REPARTITION_BY_\w+|REBALANCE_\w+)\b")
    ids = re.findall(r"\bExchange \((\d+)\)", tree)
    return [origin.search(args[i]).group(1) for i in ids]


def count_data_shuffles(plan: str) -> int:
    """Exchanges that move data BY KEY (hash/range) — excludes the deliberate
    round-robin rebalance `sources.spread` adds for single-file inputs."""
    return count_exchanges(plan) - len(re.findall(r"RoundRobinPartitioning", plan))


def count_broadcast_joins(plan: str) -> int:
    return len(re.findall(r"BroadcastHashJoin|BroadcastNestedLoopJoin", plan))


def has_sort_merge_join(plan: str) -> bool:
    return "SortMergeJoin" in plan


def simple_plan(df: DataFrame) -> str:
    """The EXPLAIN (simple) physical-plan TREE — indentation encodes the
    operator hierarchy, which formatted output flattens away."""
    spark = df.sparkSession
    return spark._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "simple"
    )


def _tree_depth(line: str) -> int:
    """Node depth in Spark's plan tree: markers come in 3-char units
    (':  ', '   ', '+- ', ':- '), so depth = marker-prefix length / 3."""
    i = 0
    while line[i : i + 3] in (":  ", "   ", "+- ", ":- "):
        i += 3
    return i // 3


def _is_node(line: str) -> bool:
    """True if the line is an operator node (its LAST marker unit is a
    branch marker). A sibling nested under a ':' continuation renders as
    ':  +- X' — `lstrip().startswith('+-')` misses it (the visible prefix
    is ':'), which silently absorbed sibling subtrees into
    single_partition_subtrees and produced false negatives in the
    unreduced-global-window audit."""
    i, last = 0, None
    while line[i : i + 3] in (":  ", "   ", "+- ", ":- "):
        last = line[i : i + 3]
        i += 3
    return last in ("+- ", ":- ") and bool(line[i:].strip())


def single_partition_subtrees(plan: str) -> list[str]:
    """For each `Exchange SinglePartition` in the plan tree, the subtree
    BELOW it (the data that gets funneled into one partition). Used to
    audit global windows/sorts: the subtree must be pre-reduced (an
    aggregate or limit) or read only bounded dim tables — otherwise the
    node is a scale-killer that moves a fact table onto one core."""
    lines = plan.splitlines()
    out = []
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        d = _tree_depth(line)
        sub = []
        for nxt in lines[i + 1 :]:
            if nxt.strip() and _is_node(nxt) and _tree_depth(nxt) <= d:
                break
            sub.append(nxt)
        out.append("\n".join(sub))
    return out


_REDUCING_NODES = re.compile(
    r"HashAggregate|SortAggregate|ObjectHashAggregate|AggregateInPandas"
    r"|TakeOrderedAndProject|CollectLimit|GlobalLimit|LocalLimit"
)

# Tables whose size is bounded by the data model, not the corpus: safe to
# funnel through one partition even at 100 TB.
_DIM_TABLES = ("nation.parquet", "region.parquet")


def unreduced_single_partition(plan: str, *, allow_tables: tuple[str, ...] = ()) -> list[str]:
    """Subtrees of SinglePartition exchanges that are NOT pre-reduced and
    scan something other than bounded dims / explicitly allowed tables —
    i.e. genuine single-core funnels of unbounded data."""
    bad = []
    allowed = _DIM_TABLES + allow_tables
    for sub in single_partition_subtrees(plan):
        if _REDUCING_NODES.search(sub):
            continue
        scans = re.findall(r"\[file:[^\]]*?/(\w+\.parquet)", sub)
        if scans and all(s in allowed for s in scans):
            continue
        bad.append(sub)
    return bad


def scan_columns(plan: str, *, containing: str) -> set[str]:
    """Column names of the first ReadSchema containing the given column."""
    for schema in read_schemas(plan):
        cols = {c.split(":")[0] for c in schema.split(",") if c}
        if containing in cols:
            return cols
    raise AssertionError(
        f"no scan with column {containing!r}; schemas: {read_schemas(plan)}"
    )

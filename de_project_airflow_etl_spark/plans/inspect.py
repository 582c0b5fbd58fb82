"""Plan assertions used by tests (and by humans via .explain).

The string checks read the formatted physical plan — the same text
``df.explain("formatted")`` prints — and check the scale-critical
properties: filters reached the parquet scan, projections pruned the
read schema, small sides broadcast, no cartesian products sneak in.

The structural checks walk the physical plan tree. ``scan_count``
implements the ``scans`` rule of the ``PLAN_RULES`` table in
``tests/test_plan_rules.py`` (at most N parquet scans in the final
plan, declared per query name). The per-subject plan tests state
their window rules with the same helpers:

* every ``WindowExec`` input subtree contains an Aggregate
  (``unbounded_windows``);
* every ``WindowExec`` input subtree contains an Aggregate or reads no
  file, i.e. consumes a checkpoint
  (``unbounded_windows(..., scanless_ok=True)``);
* at most N ``WindowExec`` nodes, 0 meaning none, or at least one
  (``window_nodes``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted")


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if `fragment` appears in a scan's PushedFilters list."""
    plan = formatted_plan(df)
    return any("PushedFilters" in line and fragment in line
               for line in plan.splitlines())


def scan_read_schema(df: DataFrame) -> list[str]:
    """ReadSchema lines of every file scan in the plan."""
    return [line.strip() for line in formatted_plan(df).splitlines()
            if "ReadSchema" in line]


def has_broadcast_join(df: DataFrame) -> bool:
    plan = formatted_plan(df)
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def has_partition_filter(df: DataFrame, fragment: str) -> bool:
    plan = formatted_plan(df)
    return any("PartitionFilters" in line and fragment in line
               for line in plan.splitlines())


def _walk_jplan(jnode):
    yield jnode
    children = jnode.children()
    for i in range(children.size()):
        yield from _walk_jplan(children.apply(i))


def scan_count(df: DataFrame) -> int:
    """Parquet scans in the final plan: ``Scan parquet`` occurrences in
    the executed plan's tree string (one per file scan node, counting
    the lineage printed under a cached InMemoryRelation). A
    checkpointed subtree runs before the final plan and shows as an
    RDD scan, so it does not count."""
    return (df._jdf.queryExecution().executedPlan().toString()
            .count("Scan parquet"))


def node_names(df: DataFrame) -> list[str]:
    """Class names of every node in the physical plan."""
    return [n.getClass().getSimpleName()
            for n in _walk_jplan(df._jdf.queryExecution().sparkPlan())]


def window_nodes(df: DataFrame) -> list:
    """Every ``WindowExec`` node of the physical plan (py4j handles).
    ``WindowGroupLimitExec``, the rank-limit pushdown, is not one."""
    return [n for n in _walk_jplan(df._jdf.queryExecution().sparkPlan())
            if n.getClass().getSimpleName().startswith("WindowExec")]


def unbounded_windows(df: DataFrame, scanless_ok: bool = False) -> list[str]:
    """Windows whose input is not shown to be bounded. A window passes
    when its input subtree contains an Aggregate (it ranks a rollup,
    not raw rows). With ``scanless_ok`` it also passes when that
    subtree reads no file: its rows come from a checkpoint, which hides
    the aggregate that built them.

    Returns the offending window descriptions (empty == pass)."""
    offenders = []
    for wnode in window_nodes(df):
        names = [n.getClass().getSimpleName()
                 for n in _walk_jplan(wnode.children().apply(0))]
        if any("Aggregate" in n for n in names):
            continue
        if scanless_ok and not any("FileSourceScan" in n for n in names):
            continue
        offenders.append(wnode.simpleString(25))
    return offenders


def bnlj_builds_are_scalar(df: DataFrame) -> list[str]:
    """Structural check on every BroadcastNestedLoopJoin in the
    physical plan: its broadcast side must be a SCALAR subtree — one
    containing a global (no-grouping) aggregate — i.e. the 1-row
    cutoff/threshold broadcast pattern. A data x data nested-loop
    join (candidate generation degenerated to all-pairs) has a
    broadcast side with no global aggregate and is reported.

    Returns the offending node descriptions (empty == pass). Walks
    the pre-AQE plan (queryExecution().sparkPlan()) because the
    adaptive wrapper hides its children from the TreeNode API.
    """
    offenders: list[str] = []
    jplan = df._jdf.queryExecution().sparkPlan()

    def is_scalar_side(side) -> bool:
        """True iff the side's ROOT REGION is a global (no-grouping)
        aggregate — i.e. the subtree produces one row. Peeling only
        unary wrappers (Project/Filter/Exchange/...) is what makes
        this sound: a data x data join ABOVE scalar subtrees peels
        into the 2-child join node and is rejected, even though
        global aggregates exist deeper in both branches."""
        node = side
        while True:
            cls = node.getClass().getSimpleName()
            if "Aggregate" in cls:
                try:
                    return node.groupingExpressions().isEmpty()
                except Exception:  # py4j: node without the accessor
                    return False
            # A limit-k root region produces at most k rows, so it is
            # just as broadcast-safe as a one-row global aggregate.
            # Explicit node names only: a bare "Limit" substring would
            # also match WindowGroupLimitExec, whose output is k rows
            # PER GROUP (data-sized), and wrongly bless a data build.
            # (LocalLimit is deliberately absent: k rows PER
            # PARTITION is data-sized; the peel reaches the
            # GlobalLimit above it first in any real limit plan.)
            if cls in ("TakeOrderedAndProjectExec", "GlobalLimitExec",
                       "CollectLimitExec"):
                return True
            children = node.children()
            if children.size() != 1:
                return False
            node = children.apply(0)

    # NOTE: sparkPlan() precedes EnsureRequirements, so the
    # BroadcastExchange wrapper is not in the tree yet — the BNLJ
    # node itself implies one side broadcasts. "Some side is a
    # scalar (global-aggregate) subtree" is the invariant.
    for node in _walk_jplan(jplan):
        if "BroadcastNestedLoopJoin" not in node.nodeName():
            continue
        children = node.children()
        sides = [children.apply(i) for i in range(children.size())]
        if not any(is_scalar_side(s) for s in sides):
            offenders.append(node.simpleStringWithNodeId())
    return offenders

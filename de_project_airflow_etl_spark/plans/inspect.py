"""Plan assertions used by tests (and by humans via .explain).

The string checks read the formatted physical plan — the same text
``df.explain("formatted")`` prints — and check the scale-critical
properties: filters reached the parquet scan, projections pruned the
read schema, small sides broadcast, no cartesian products sneak in.

The structural checks walk the physical plan tree. They implement the
rules of the ``PLAN_RULES`` table in ``tests/test_plan_rules.py``,
declared per query name:

* ``scans``: at most N parquet scans in the final plan
  (``scan_count``);
* ``windows: "strict"``: every ``WindowExec`` input subtree contains an
  Aggregate (``unbounded_windows``);
* ``windows: "lenient"``: every ``WindowExec`` input subtree contains an
  Aggregate or reads no file, i.e. consumes a checkpoint
  (``unbounded_windows(..., scanless_ok=True)``);
* ``max_windows``: at most N ``WindowExec`` nodes, 0 meaning none, and
  ``has_window``: at least one (``window_nodes``);
* ``nested_loops``, run on every registered and staged query: no
  ``CartesianProduct`` in ``formatted_plan`` and every
  ``BroadcastNestedLoopJoin`` builds a one-row or limit-k side
  (``bnlj_builds_are_scalar``); a ``"justified"`` row inverts the build
  check, a ``"none"`` row forbids the node outright;
* ``window_keys``, run on every registered and staged query: no window
  keyed by nothing or only by fixed-cardinality columns over raw rows
  (``fixed_key_window_hazards``);
* ``collects``, run on every registered and staged query: no
  collect_list / collect_set keyed the same way over an unbounded input
  (``unbounded_collects``); a ``"justified"`` row inverts the check.

The four hazard walks (``unbounded_windows``,
``fixed_key_window_hazards``, ``unbounded_collects``,
``bnlj_builds_are_scalar``) return their offenders (empty == pass).
"""

from __future__ import annotations

import re

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


# Columns whose cardinality does not grow with the data in this schema:
# a partition keyed only by them is a constant fraction of the corpus.
FIXED_CARDINALITY = frozenset({
    "event_type", "lang", "source", "label", "wknd", "brand", "p_brand",
    "metric", "g", "kind"})

# Grouping keys whose cardinality grows linearly with the data: an
# Aggregate keyed by one of them is itself data-sized, so it does not
# bound a fixed-key window or collect above it (a per-user rollup under
# a fixed-cardinality window would otherwise pass). Calendar keys (day,
# week, dow), value-range buckets and vocabulary keys stay off this list
# on purpose: those rollups are bounded, the shapes the re-plans produce.
GROWS_WITH_DATA = frozenset({
    "user_id", "event_id", "doc_id", "content_hash", "vec_id",
    "session_id", "o_orderkey", "l_orderkey", "o_custkey", "c_custkey",
    "l_partkey", "p_partkey", "l_suppkey", "s_suppkey"})

_COLUMN = re.compile(r"([a-zA-Z_][a-zA-Z0-9_]*)#\d+")
_KEYS = re.compile(r".*?keys=\[([^\]]*)\]")


def partition_columns(wnode) -> set[str]:
    """Column names in a ``WindowExec``'s PARTITION BY."""
    spec = wnode.partitionSpec()
    return {c for i in range(spec.size())
            for c in _COLUMN.findall(spec.apply(i).toString())}


def _grouping_columns(anode) -> set[str]:
    """Column names in an Aggregate node's grouping keys."""
    m = _KEYS.match(anode.toString().split("\n")[0])
    return set(_COLUMN.findall(m.group(1))) if m else set()


def _bounded_subtree(node, extras: tuple[str, ...] = ()) -> bool:
    """True if the node's input subtree is provably bounded: an
    Aggregate not keyed by a grows-with-data column, a checkpoint scan
    (ExistingRDD), a WindowGroupLimit (rank <= k rides the partial
    pushdown), or a node whose class name contains one of ``extras``."""
    for c in _walk_jplan(node.children().apply(0)):
        cls = c.getClass().getSimpleName()
        if "Aggregate" in cls and not _grouping_columns(c) & GROWS_WITH_DATA:
            return True
        if ("ExistingRDD" in cls or "RDDScanExec" in cls
                or cls.startswith("WindowGroupLimit")
                or any(t in cls for t in extras)):
            return True
    return False


def fixed_key_window_hazards(df: DataFrame) -> list[str]:
    """Windows that are unpartitioned, or partitioned only by
    ``FIXED_CARDINALITY`` columns, over an input not shown bounded by
    ``_bounded_subtree``: each partition would be data-sized at
    100 TB. Windows keyed by a grows-with-data column pass, since their
    per-key groups shrink relative to the corpus.

    Returns the offending window descriptions (empty == pass)."""
    offenders = []
    for wnode in window_nodes(df):
        cols = partition_columns(wnode)
        unpartitioned = wnode.partitionSpec().size() == 0
        if ((unpartitioned or (cols and cols <= FIXED_CARDINALITY))
                and not _bounded_subtree(wnode)):
            offenders.append(f"partitioned by {sorted(cols) or 'NOTHING'}: "
                             f"{wnode.simpleString(25)}")
    return offenders


def unbounded_collects(df: DataFrame) -> list[str]:
    """collect_list / collect_set aggregates keyed by nothing or only by
    ``FIXED_CARDINALITY`` columns over an input not shown bounded. One
    aggregation state buffers a whole group, so such a group is an
    executor OOM at scale. A TakeOrdered or Limit upstream also bounds
    the input (the group is capped at the limit constant).

    Returns the offending aggregate descriptions (empty == pass)."""
    offenders = []
    for node in _walk_jplan(df._jdf.queryExecution().sparkPlan()):
        if "Aggregate" not in node.getClass().getSimpleName():
            continue
        head = node.toString().split("\n")[0]
        if "collect_list" not in head and "collect_set" not in head:
            continue
        keys = _grouping_columns(node)
        if keys and not keys <= FIXED_CARDINALITY:
            continue
        if not _bounded_subtree(node, ("TakeOrdered", "Limit")):
            offenders.append(f"keys={sorted(keys) or 'NONE'}: {head[:300]}")
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

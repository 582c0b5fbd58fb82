"""Plan assertions used by tests (and by humans via .explain).

The string checks read the formatted physical plan — the same text
``df.explain("formatted")`` prints — and check the scale-critical
properties: filters reached the parquet scan, projections pruned the
read schema, small sides broadcast, no cartesian products sneak in.

The structural checks read a ``PlanWalk``: the physical plan
(``sparkPlan()``) read once, stepping from each checkpoint's RDD scan
into the plan the checkpoint materialized (recorded while the query
builds inside ``recorded_checkpoints``) and from each in-memory scan
into its cached plan. So a rule sees the windows, joins and aggregates
that a ``localCheckpoint`` runs before the final plan, not only those
of the final plan. An RDD scan the recorder did not see (a
``createDataFrame``, a checkpoint made by an earlier build) is a leaf
that bounds nothing. The checks implement the rules of the
``PLAN_RULES`` table in ``tests/test_plan_rules.py``, declared per
query name:

* ``scans``: at most N parquet scans in the final executed plan
  (``scan_count``; a checkpointed subtree is not counted);
* ``windows: "strict"``: every ``WindowExec`` input subtree contains an
  Aggregate (``unbounded_windows``);
* ``max_windows``: at most N ``WindowExec`` nodes, 0 meaning none, and
  ``has_window``: at least one (``window_nodes``);
* ``nested_loops``, run on every registered and staged query: no
  ``CartesianProduct`` node and every ``BroadcastNestedLoopJoin``
  builds a one-row or limit-k side (``bnlj_builds_are_scalar``); a
  ``"justified"`` row inverts the build check, a ``"none"`` row forbids
  the node outright;
* ``window_keys``, run on every registered and staged query: no window
  keyed by nothing or only by fixed-cardinality columns over raw rows
  (``fixed_key_window_hazards``);
* ``collects``, run on every registered and staged query: no
  collect_list / collect_set keyed the same way over an unbounded input
  (``unbounded_collects``); a ``"justified"`` row inverts the check.

The four hazard checks (``unbounded_windows``,
``fixed_key_window_hazards``, ``unbounded_collects``,
``bnlj_builds_are_scalar``) take a DataFrame or a ``PlanWalk`` and
return their offenders (empty == pass). A DataFrame is walked with no
recorded checkpoints: its checkpoint scans are leaves.
"""

from __future__ import annotations

import contextlib
import re

from pyspark.sql import DataFrame
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame


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


@contextlib.contextmanager
def recorded_checkpoints():
    """Record, while a query builds, the plan each
    ``DataFrame.localCheckpoint`` materializes. Yields those plans by
    the RDD id of the checkpoint, for a ``PlanWalk`` to step into. Drop
    them with the query: a recorded plan holds its checkpoint's RDD
    blocks in memory."""
    plans: dict[int, object] = {}
    original = ClassicDataFrame.localCheckpoint

    def recording(self, *args, **kwargs):
        out = original(self, *args, **kwargs)
        rdd_id = out._jdf.queryExecution().logical().rdd().id()
        plans[rdd_id] = self._jdf.queryExecution().sparkPlan()
        return out

    ClassicDataFrame.localCheckpoint = recording
    try:
        yield plans
    finally:
        ClassicDataFrame.localCheckpoint = original


def _inner_plan(jnode, cls: str, checkpoints: dict):
    """(key, plan) for the plan a leaf reads: the recorded plan of a
    checkpoint's RDD scan, the cached plan of an in-memory scan; None
    for any other node, and for an RDD scan not in ``checkpoints`` (a
    leaf that bounds nothing)."""
    if cls == "RDDScanExec":
        rdd_id = jnode.rdd().id()
        plan = checkpoints.get(rdd_id)
        return None if plan is None else (("rdd", rdd_id), plan)
    if cls == "InMemoryTableScanExec":
        plan = jnode.relation().cachedPlan()
        key = ("cache", plan.id())
        if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            plan = plan.inputPlan()
        return key, plan
    return None


class PlanWalk:
    """A physical plan read once over py4j: node ``i`` is
    ``jnodes[i]``, class ``names[i]``, inputs ``children[i]``. A
    checkpoint scan whose plan ``checkpoints`` (from
    ``recorded_checkpoints``) holds, or an in-memory scan, has the plan
    it reads as its one child; that plan is entered once however many
    scans read it, so the walk stays linear in the distinct nodes."""

    def __init__(self, jplan, checkpoints: dict | None = None):
        checkpoints = checkpoints or {}
        self.jnodes: list = []
        self.names: list[str] = []
        self.children: list[list[int]] = []
        entered: dict[tuple, int] = {}
        stack = [(jplan, None, None)]
        while stack:
            jnode, parent, key = stack.pop()
            if key in entered:
                self.children[parent].append(entered[key])
                continue
            i = len(self.jnodes)
            if key is not None:
                entered[key] = i
            if parent is not None:
                self.children[parent].append(i)
            cls = jnode.getClass().getSimpleName()
            self.jnodes.append(jnode)
            self.names.append(cls)
            self.children.append([])
            inner = _inner_plan(jnode, cls, checkpoints)
            if inner is not None:
                stack.append((inner[1], i, inner[0]))
                continue
            kids = jnode.children()
            stack.extend((kids.apply(k), i, None)
                         for k in reversed(range(kids.size())))

    def below(self, i: int) -> set[int]:
        """Every node in node ``i``'s input subtree."""
        seen: set[int] = set()
        stack = list(self.children[i])
        while stack:
            j = stack.pop()
            if j not in seen:
                seen.add(j)
                stack.extend(self.children[j])
        return seen

    def windows(self) -> list[int]:
        """``WindowExec`` nodes; ``WindowGroupLimitExec``, the
        rank-limit pushdown, is not one."""
        return [i for i, n in enumerate(self.names)
                if n.startswith("WindowExec")]


def _walked(plan: DataFrame | PlanWalk) -> PlanWalk:
    """The walk itself, or a DataFrame's plan walked with no recorded
    checkpoints."""
    if isinstance(plan, PlanWalk):
        return plan
    return PlanWalk(plan._jdf.queryExecution().sparkPlan())


def scan_count(df: DataFrame) -> int:
    """Parquet scans in the final plan: ``Scan parquet`` occurrences in
    the executed plan's tree string (one per file scan node, counting
    the lineage printed under a cached InMemoryRelation). A
    checkpointed subtree runs before the final plan and shows as an
    RDD scan, so it does not count."""
    return (df._jdf.queryExecution().executedPlan().toString()
            .count("Scan parquet"))


def node_names(plan: DataFrame | PlanWalk) -> list[str]:
    """Class names of every node of the walk."""
    return list(_walked(plan).names)


def window_nodes(plan: DataFrame | PlanWalk) -> list:
    """Every ``WindowExec`` node of the walk (py4j handles)."""
    w = _walked(plan)
    return [w.jnodes[i] for i in w.windows()]


def unbounded_windows(plan: DataFrame | PlanWalk) -> list[str]:
    """Windows whose input subtree contains no Aggregate, so they may
    rank raw rows rather than a rollup.

    Returns the offending window descriptions (empty == pass)."""
    w = _walked(plan)
    return [w.jnodes[i].simpleString(25) for i in w.windows()
            if not any("Aggregate" in w.names[j] for j in w.below(i))]


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


def _bounded_subtree(w: PlanWalk, i: int) -> bool:
    """True if node ``i``'s input subtree is provably bounded: an
    Aggregate not keyed by a grows-with-data column, or a TakeOrdered or
    Limit (a WindowGroupLimit too: rank <= k rides the partial
    pushdown), which caps its output at the limit constant."""
    for j in w.below(i):
        cls = w.names[j]
        if ("Aggregate" in cls
                and not _grouping_columns(w.jnodes[j]) & GROWS_WITH_DATA):
            return True
        if "TakeOrdered" in cls or "Limit" in cls:
            return True
    return False


def fixed_key_window_hazards(plan: DataFrame | PlanWalk) -> list[str]:
    """Windows that are unpartitioned, or partitioned only by
    ``FIXED_CARDINALITY`` columns, over an input not shown bounded by
    ``_bounded_subtree``: each partition would be data-sized at
    100 TB. Windows keyed by a grows-with-data column pass, since their
    per-key groups shrink relative to the corpus.

    Returns the offending window descriptions (empty == pass)."""
    w = _walked(plan)
    offenders = []
    for i in w.windows():
        wnode = w.jnodes[i]
        cols = partition_columns(wnode)
        unpartitioned = wnode.partitionSpec().size() == 0
        if ((unpartitioned or (cols and cols <= FIXED_CARDINALITY))
                and not _bounded_subtree(w, i)):
            offenders.append(f"partitioned by {sorted(cols) or 'NOTHING'}: "
                             f"{wnode.simpleString(25)}")
    return offenders


def unbounded_collects(plan: DataFrame | PlanWalk) -> list[str]:
    """collect_list / collect_set aggregates keyed by nothing or only by
    ``FIXED_CARDINALITY`` columns over an input not shown bounded. One
    aggregation state buffers a whole group, so such a group is an
    executor OOM at scale.

    Returns the offending aggregate descriptions (empty == pass)."""
    w = _walked(plan)
    offenders = []
    for i, cls in enumerate(w.names):
        if "Aggregate" not in cls:
            continue
        head = w.jnodes[i].toString().split("\n")[0]
        if "collect_list" not in head and "collect_set" not in head:
            continue
        keys = _grouping_columns(w.jnodes[i])
        if keys and not keys <= FIXED_CARDINALITY:
            continue
        if not _bounded_subtree(w, i):
            offenders.append(f"keys={sorted(keys) or 'NONE'}: {head[:300]}")
    return offenders


def bnlj_builds_are_scalar(plan: DataFrame | PlanWalk) -> list[str]:
    """Structural check on every BroadcastNestedLoopJoin of the walk:
    its broadcast side must be a SCALAR subtree — one rooted at a
    global (no-grouping) aggregate — i.e. the 1-row cutoff/threshold
    broadcast pattern. A data x data nested-loop join (candidate
    generation degenerated to all-pairs) has a broadcast side with no
    global aggregate root and is reported.

    Returns the offending node descriptions (empty == pass). Walks the
    pre-AQE plan (queryExecution().sparkPlan()) because the adaptive
    wrapper hides its children from the TreeNode API.
    """
    w = _walked(plan)

    def is_scalar_side(j: int) -> bool:
        """True iff the side's ROOT REGION is a global (no-grouping)
        aggregate — i.e. the subtree produces one row. Peeling only
        unary wrappers (Project/Filter/Exchange/a checkpoint or cache
        scan, which has the plan it reads as its one child) is what
        makes this sound: a data x data join ABOVE scalar subtrees
        peels into the 2-child join node and is rejected, even though
        global aggregates exist deeper in both branches."""
        while True:
            cls = w.names[j]
            if "Aggregate" in cls:
                try:
                    return w.jnodes[j].groupingExpressions().isEmpty()
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
            if len(w.children[j]) != 1:
                return False
            j = w.children[j][0]

    # NOTE: sparkPlan() precedes EnsureRequirements, so the
    # BroadcastExchange wrapper is not in the tree yet — the BNLJ
    # node itself implies one side broadcasts. "Some side is a
    # scalar (global-aggregate) subtree" is the invariant.
    return [w.jnodes[i].simpleStringWithNodeId()
            for i, cls in enumerate(w.names)
            if "BroadcastNestedLoopJoin" in cls
            and not any(is_scalar_side(j) for j in w.children[i])]

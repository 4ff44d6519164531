"""Physical-plan inspection: the assertions behind every scale claim made
in operator docstrings. Scraped from `explain` output (the only stable
public surface for plan shape), used by tests/test_plans.py to lock in:

* predicate pushdown + column pruning reach the parquet scan
  (PushedFilters / ReadSchema);
* small sides broadcast (BroadcastHashJoin / BroadcastExchange), fact
  sides don't shuffle for those joins;
* shuffle counts stay at the operator's documented budget.

A plan that silently regresses (filter stops pushing, broadcast flips to
sort-merge, an extra exchange appears) fails a test here long before it
fails a 100 TB run."""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as text (explain output captured)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def scan_info(df: DataFrame) -> list[dict[str, str]]:
    """One dict per file scan: relation name, pushed filters, read schema.

    Formatted explain renders scans as:
        (1) Scan parquet [...]
        ...
        PushedFilters: [IsNotNull(x), LessThan(x, y)]
        ReadSchema: struct<a:bigint,b:double>
    """
    text = plan_string(df, "formatted")
    scans = []
    blocks = re.split(r"\n\n", text)
    for block in blocks:
        m = re.search(r"Scan (\w+)", block)
        if not m or "PushedFilters" not in block and "ReadSchema" not in block:
            continue
        pushed = re.search(r"PushedFilters: \[(.*?)\]", block)
        part = re.search(r"PartitionFilters: \[(.*?)\]", block)
        schema = re.search(r"ReadSchema: (struct<.*?>)", block)
        loc = re.search(r"Location: \S+ \[(.*?)\]", block)
        scans.append(
            {
                "format": m.group(1),
                "pushed_filters": pushed.group(1) if pushed else "",
                "partition_filters": part.group(1) if part else "",
                "read_schema": schema.group(1) if schema else "",
                "location": loc.group(1) if loc else "",
            }
        )
    return scans


def read_columns(df: DataFrame) -> list[set[str]]:
    """Column sets each scan actually reads (column-pruning audit)."""
    out = []
    for scan in scan_info(df):
        cols = re.findall(r"(\w+):", scan["read_schema"])
        out.append(set(cols))
    return out


def has_broadcast_join(df: DataFrame) -> bool:
    text = plan_string(df, "simple")
    return "BroadcastHashJoin" in text or "BroadcastNestedLoopJoin" in text


def join_kinds(df: DataFrame) -> list[str]:
    """Physical join operators in plan order."""
    text = plan_string(df, "simple")
    return re.findall(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)",
        text,
    )


def _without_initial_plans(text: str) -> str:
    """Drop `== Initial Plan ==` subtrees from an explain render.  Once a
    cached relation (pin()/persist) has been MATERIALIZED, its
    InMemoryRelation child renders as `AdaptiveSparkPlan isFinalPlan=true`
    with BOTH a `== Final Plan ==` and an `== Initial Plan ==` copy of the
    cache-build plan — so a warm-session render shows every cache-internal
    exchange twice and plan-shape assertions flip with test order (the
    r17 op11 suite failure).  Stripping the initial-plan copies makes
    counting independent of whether the cache has materialized."""
    lines = text.splitlines()
    out: list[str] = []
    skip_col: int | None = None
    for ln in lines:
        first = len(ln) - len(ln.lstrip(" "))
        if skip_col is not None:
            if ln.strip() and first <= skip_col:
                skip_col = None
            else:
                continue
        if "== Initial Plan ==" in ln:
            skip_col = first
            continue
        out.append(ln)
    return "\n".join(out)


def shuffle_count(df: DataFrame) -> int:
    """Shuffle exchanges in the plan (BroadcastExchange excluded — that's
    the cheap side of a broadcast join, not a data shuffle). Matches the
    actual operator spellings: `Exchange hashpartitioning(...)`,
    `Exchange rangepartitioning(...)`, `Exchange SinglePartition` (global
    aggregates — the earlier `Singlepartitioning` pattern never matched
    and undercounted plans with global exchanges).  Initial-plan copies of
    materialized cached relations are excluded (see
    `_without_initial_plans`) so the count is warm/cold-stable."""
    text = _without_initial_plans(plan_string(df, "simple"))
    return len(
        re.findall(
            r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)", text
        )
    )


_LIMIT_EXECS = (
    "TakeOrderedAndProjectExec",
    "GlobalLimitExec",
    "LocalLimitExec",
    "CollectLimitExec",
)


def _jvm_children(node):
    """Physical children, unwrapping the AQE containers whose children()
    is empty (AdaptiveSparkPlanExec holds the live plan in executedPlan,
    QueryStageExec in plan)."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    if name == "ReusedExchangeExec":
        return [node.child()]
    seq = node.children()
    return [seq.apply(i) for i in range(seq.length())]


def _subtree_has_limit(node) -> bool:
    if node.getClass().getSimpleName() in _LIMIT_EXECS:
        return True
    return any(_subtree_has_limit(c) for c in _jvm_children(node))


def unbounded_global_windows(df: DataFrame) -> list[str]:
    """Window operators with NO partition key whose input subtree has no
    limit — i.e. a global sort of an unbounded frame onto one partition,
    the scale-killer class named in the r8 verdict.  A window without a
    partition spec is fine when a TakeOrderedAndProject / limit below it
    bounds the frame to k rows; this walks the executed plan tree (via
    the JVM handles — the text rendering of windowspecdefinition doesn't
    distinguish partition keys from order keys reliably) and returns a
    description of every offender, so tests assert `== []`."""
    out: list[str] = []

    def visit(node):
        name = node.getClass().getSimpleName()
        if name in ("WindowExec", "WindowInPandasExec"):
            if node.partitionSpec().isEmpty() and not any(
                _subtree_has_limit(c) for c in _jvm_children(node)
            ):
                out.append(node.verboseString(3))
        for c in _jvm_children(node):
            visit(c)

    visit(df._jdf.queryExecution().executedPlan())
    return out

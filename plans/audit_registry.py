#!/usr/bin/env python
"""Anti-pattern sweep over EVERY registered query's physical plan.

Usage: python plans/audit_registry.py <out.jsonl> [name ...]

For each query without side effects: build the DataFrame, capture
explain("formatted"), and count the optimization-guide markers
(CartesianProduct / BroadcastNestedLoopJoin, SortMergeJoin, Expand,
Python-eval nodes, Exchanges, repeated scans of the same input).  Writes
one JSON line per query to <out.jsonl> and prints a flagged summary.
Side-effect queries (streaming sinks, lake accounting) are listed but
skipped: their fn() runs a pipeline whose plan is a memory-sink scan.

SMJ order consumption: the audit parses the numbered plan tree and, for
each SortMergeJoin, walks the ancestor chain through order-neutral nodes
(Project/Filter/...) to the first order-SENSITIVE or order-DISCARDING
consumer:

  * discarders: HashAggregate / ObjectHashAggregate / Exchange
    hashpartitioning / Expand / another join's build side — the SMJ's
    interesting output order dies there -> flag smj_order_discarded;
  * consumers: Sort means the order was re-established anyway (also a
    discard of THIS smj's order, but re-sorted for a different key —
    flagged separately as smj_resorted); Window / SortAggregate /
    SortMergeJoin / TakeOrderedAndProject consume order -> no flag.

Every flag is a CANDIDATE for a shuffle_hash hint — bounded build sides
only (shuffled-hash risks OOM when a build partition cannot fit;
corpus-x-corpus joins keep SMJ's spill safety).
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bigbugdata_spark.plans.inspect import plan_string  # noqa: E402
from bigbugdata_spark.registry import load_all  # noqa: E402
from bigbugdata_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

SCAN_RE = re.compile(r"Scan parquet\b[^\n]*")
LOCATION_RE = re.compile(r"Location: \S+\[([^\]]*)\]")

#: nodes transparent to output ordering — walk through them
_ORDER_NEUTRAL = (
    "Project",
    "Filter",
    "ColumnarToRow",
    "InputAdapter",
    "WholeStageCodegen",
    "AQEShuffleRead",
    "Coalesce",
    "Union",  # order of each branch irrelevant once unioned
    "BroadcastQueryStage",
    "ShuffleQueryStage",
    "TableCacheQueryStage",
    "ResultQueryStage",
    "LocalLimit",
)
#: the SMJ's order is USED here (or rebuilt on purpose) — keep SMJ
_ORDER_CONSUMERS = (
    "SortMergeJoin",
    "Window",
    "WindowGroupLimit",
    "SortAggregate",
    "TakeOrderedAndProject",
)
#: the SMJ's order dies here — its sorts were pure overhead
_ORDER_DISCARDERS = (
    "HashAggregate",
    "ObjectHashAggregate",
    "Exchange",
    "Expand",
    "BroadcastExchange",
    "BroadcastHashJoin",
    "ShuffledHashJoin",
    "CollectLimit",
    "Generate",
    "InMemoryRelation",
)


def _parse_tree(text: str) -> list[tuple[int, str, int]]:
    """(depth, node_name, line_no) for each operator line of the
    formatted plan's tree section (before the '(1) ...' details)."""
    nodes = []
    for i, line in enumerate(text.split("\n")):
        if line.startswith("(") or line.startswith("=="):
            continue
        m = re.match(r"^([\s:+\-*]*)\*?\s*([A-Za-z][A-Za-z0-9]*)", line)
        if not m:
            continue
        prefix, name = m.groups()
        # operator lines in the tree carry an (id) suffix or are the
        # AdaptiveSparkPlan / InMemoryRelation roots
        if "(" not in line:
            continue
        depth = len(prefix.replace("*", ""))
        nodes.append((depth, name, i))
    return nodes


def smj_order_flags(text: str) -> list[dict]:
    """For each SortMergeJoin in the plan tree: the first non-neutral
    ancestor and whether it discards the join's output order."""
    nodes = _parse_tree(text)
    flags = []
    for idx, (depth, name, _line) in enumerate(nodes):
        if name != "SortMergeJoin":
            continue
        consumer = None
        # walk UP: the nearest preceding node with smaller depth
        d = depth
        for j in range(idx - 1, -1, -1):
            pd, pname, _ = nodes[j]
            if pd >= d:
                continue
            d = pd
            if pname in _ORDER_NEUTRAL:
                continue
            consumer = pname
            break
        entry = {"consumer": consumer or "result"}
        if consumer is None or consumer == "AdaptiveSparkPlan":
            # top of plan: ordered output only if the query declares an
            # orderBy, which would appear as Sort/TakeOrdered — absent
            # means the sink is unordered
            entry["order_discarded"] = True
        elif consumer in _ORDER_CONSUMERS:
            entry["order_discarded"] = False
        elif consumer == "Sort":
            entry["order_discarded"] = True
            entry["resorted"] = True
        elif consumer in _ORDER_DISCARDERS:
            entry["order_discarded"] = True
        else:
            entry["order_discarded"] = None  # unknown node: review
        flags.append(entry)
    return flags


def analyze(text: str) -> dict:
    res = {
        "exchanges": len(re.findall(r"\bExchange\b", text)),
        "smj": len(re.findall(r"\bSortMergeJoin\b", text)),
        "bnlj": len(re.findall(r"\bBroadcastNestedLoopJoin\b", text)),
        "cartesian": len(re.findall(r"\bCartesianProduct\b", text)),
        "expand": len(re.findall(r"\bExpand\b", text)),
        "sort_agg": len(re.findall(r"\bSortAggregate\b", text)),
        "py_eval": len(
            re.findall(r"\b(BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow)\b", text)
        ),
    }
    if res["smj"]:
        flags = smj_order_flags(text)
        res["smj_order"] = flags
        res["smj_order_discarded"] = sum(
            1 for f in flags if f.get("order_discarded")
        )
    # repeated scans of the same input location
    locs: dict[str, int] = {}
    for m in LOCATION_RE.finditer(text):
        key = m.group(1).rsplit("/", 1)[-1]
        locs[key] = locs.get(key, 0) + 1
    res["scans"] = sum(locs.values())
    res["repeat_scans"] = {k: v for k, v in locs.items() if v > 1}
    return res


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    out, names = sys.argv[1], sys.argv[2:] or None
    specs = load_all()
    spark = get_spark(app_name="registry-audit")
    rows = []
    with open(out, "w") as fh:
        for name in sorted(specs):
            if names and name not in names:
                continue
            spec = specs[name]
            row = {"name": name, "tags": list(spec.tags)}
            if spec.side_effects:
                row["skipped"] = "side_effects"
            else:
                spark.catalog.clearCache()
                try:
                    df = spec.fn(spark, SF_DIR)
                    row.update(analyze(plan_string(df, "formatted")))
                except Exception as exc:  # noqa: BLE001 — record and continue
                    row["error"] = f"{type(exc).__name__}: {exc}"[:200]
            fh.write(json.dumps(row) + "\n")
            fh.flush()
            rows.append(row)

    flagged = [
        r
        for r in rows
        if r.get("cartesian")
        or r.get("bnlj")
        or r.get("py_eval")
        or r.get("smj_order_discarded")
        or r.get("repeat_scans")
        or r.get("error")
    ]
    print(f"{len(rows)} audited, {len(flagged)} flagged")
    for r in flagged:
        marks = {
            k: r[k]
            for k in (
                "cartesian", "bnlj", "py_eval", "smj_order_discarded",
                "repeat_scans", "error",
            )
            if r.get(k)
        }
        print(f"  {r['name']}: {marks}")


if __name__ == "__main__":
    main()

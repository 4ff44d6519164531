"""Driver contract for the spark-graft builder (PySpark target).

Thin wiring over bigbugdata_spark.registry: every operator from
SURVEY.md §2 (and the extension operators) registers a named
(spark, sf_dir) -> DataFrame callable, most with a DuckDB oracle twin.
queries() and oracle_sql() list registry.GATE_ORDER first — the 50
queries the driver's correctness gate checks — then the rest, sorted.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bigbugdata_spark.registry import load_all  # noqa: E402

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Phase-0 slice (SURVEY.md §7): top-k-per-group with rank gaps — the
    op-14 pattern composing scan -> agg -> broadcast join -> window ->
    semi-join, the exact op chain the kraken pipeline needs.
    """
    specs = load_all()
    return specs["op14_topk_with_gaps"].fn(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: spec.fn for name, spec in load_all().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB twin for each query; omitted entries get rows-only checks."""
    return {
        name: spec.oracle for name, spec in load_all().items() if spec.oracle is not None
    }

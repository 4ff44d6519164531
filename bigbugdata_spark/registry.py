"""Named-query registry: the single source of truth behind __spark_entry__.py.

Every operator from SURVEY.md §2 (and every extension operator) registers
itself here as a (spark, sf_dir) -> DataFrame callable, optionally paired
with an ANSI-SQL oracle string that DuckDB runs on the same parquet tables.
The registering modules are the domain modules under operators/ and
streaming/ (one per domain: tpch, dedup, similarity, text, events, ...);
load_all() imports every one of them.

Oracle-parity discipline (the driver hash-compares values):
  * alias every computed column identically on both sides;
  * cast aggregates explicitly (DuckDB SUM(int)->HUGEINT, floor->DOUBLE —
    always pin to BIGINT/DOUBLE/VARCHAR);
  * sum integer-valued columns where possible (exact in fp64);
  * never return raw timestamps — format to strings on both sides;
  * never return NaN — use NULL.

Gate order: the driver checks the first 50 entries of
__spark_entry__.queries().  load_all() returns GATE_ORDER first and every
other registered name after it, sorted, so module layout and import order
never decide which queries the driver sees.  Rotating the gate is an edit
of GATE_ORDER; put only queries with an oracle in it.
"""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

#: the packages whose modules register queries at import time
_QUERY_PACKAGES = ("bigbugdata_spark.operators", "bigbugdata_spark.streaming")

#: the queries the driver's correctness gate checks, in gate order
GATE_ORDER = (
    "op01_scan_filter_project",
    "op02_id_from_name",
    "op03_conditional_totals",
    "op04_rank_filter",
    "op05_scalar_eval",
    "op06_trim_clean",
    "op07_hash_agg",
    "op08_pivot_dense",
    "op09_numeric_aware_sort",
    "op10_ordered_output",
    "op11_rpm_normalize",
    "op12_regex_control_groups",
    "op13_floor_ratio_rrpm",
    "op14_topk_with_gaps",
    "op15_zscore_window",
    "op18_semi_join",
    "op19_union_semi",
    "op20_lastwins_merge",
    "op21_filtered_sum_complement",
    "op22_union_literals",
    "audit_emb_lsh_recall",
    "audit_ivf_recall",
    "audit_np_parity",
    "audit_quantiles_rank",
    "audit_vocab_error",
    "audit_pq_recall",
    "tpch_q2_min_cost_supplier",
    "tpch_q21_waiting_suppliers",
    "evt_retention",
    "text_decontaminate",
    "emb_kmeans_assign",
    "evt_growth_accounting",
    "evt_anomaly_mad",
    "text_bpe_train",
    "pipe_training_corpus",
    "pipe_release_manifest",
    "pipe_semantic_guard",
    "sim_triangle_stats",
    "sim_knn_graph",
    "text_dup_span_coverage",
    "dedup_containment",
    "dedup_cluster_keep_lsh",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_emb_cosine",
    "dedup_cluster_keep",
    "dedup_incremental",
    "dedup_cluster_sizes",
)


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""
    #: fn() executes side effects before returning (drives a stream to
    #: its sink, or runs a write/maintain/vacuum storage lifecycle) and
    #: returns only a post-hoc scan — the CLI refuses --explain on these
    #: (VERDICT r11 #8: a spec flag, not a name/tag list, so a new
    #: lifecycle query can't dodge the guard by missing a tag).  None
    #: means "not declared": the lint test requires every streaming- or
    #: storage-tagged registration to declare it EXPLICITLY (True for
    #: lifecycle queries, False for pure analyses like
    #: store_partition_advisor), so forgetting the question is a test
    #: failure, not a silent default.
    side_effects: bool | None = None
    #: fn() persists an index as a side effect but the returned frame is
    #: a real (explainable) probe over it — --explain warns, not refuses.
    index_writer: bool = False


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    side_effects: bool | None = None,
    index_writer: bool = False,
):
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(
            name=name,
            fn=fn,
            oracle=oracle,
            tags=tags,
            doc=(fn.__doc__ or "").strip(),
            side_effects=side_effects,
            index_writer=index_writer,
        )
        return fn

    return deco


def load_all() -> dict[str, QuerySpec]:
    """Import every query module; return the specs in gate order."""
    for pkg_name in _QUERY_PACKAGES:
        pkg = importlib.import_module(pkg_name)
        for mod in pkgutil.iter_modules(pkg.__path__, f"{pkg_name}."):
            importlib.import_module(mod.name)
    rest = sorted(REGISTRY.keys() - set(GATE_ORDER))
    return {name: REGISTRY[name] for name in (*GATE_ORDER, *rest)}

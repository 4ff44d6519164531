#!/usr/bin/env python
"""Capture .explain("formatted") for a set of queries.

Usage: python plans/capture.py <out_dir> <suffix> [name ...]
With no names: the full bench surface (relational + ext headline + modern).
Writes <out_dir>/<query>_<suffix>.txt — the before/after plan evidence an
optimization commits alongside the code.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bigbugdata_spark.plans.inspect import plan_string  # noqa: E402
from bigbugdata_spark.registry import load_all  # noqa: E402
from bigbugdata_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

RELATIONAL_HEADLINE = (
    "op07_hash_agg",
    "op11_rpm_normalize",
    "op13_floor_ratio_rrpm",
    "op14_topk_with_gaps",
    "op15_zscore_window",
    "op18_semi_join",
    "op21_filtered_sum_complement",
)
MODERN_HEADLINE = (
    "dedup_incremental",
    "sim_knn_graph",
    "pipe_release_manifest",
    "text_bpe_train",
    "sim_pagerank",
)


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    out_dir, suffix = sys.argv[1], sys.argv[2]
    specs = load_all()
    if len(sys.argv) > 3:
        names = sys.argv[3:]
    else:
        ext = sorted(
            n
            for n, s in specs.items()
            if "headline" in s.tags and n not in RELATIONAL_HEADLINE
        )
        names = list(RELATIONAL_HEADLINE) + ext + list(MODERN_HEADLINE)
    spark = get_spark(app_name="plan-capture")
    for name in names:
        try:
            df = specs[name].fn(spark, SF_DIR)
            text = plan_string(df, "formatted")
        except Exception as exc:  # noqa: BLE001 — capture what we can
            text = f"CAPTURE ERROR: {type(exc).__name__}: {exc}\n"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        print(f"wrote {path} ({len(text)} bytes)")


if __name__ == "__main__":
    main()

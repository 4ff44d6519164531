"""Tracked persistence: the library's caching contract.

Several operators persist a shared subframe because its lineage feeds
multiple branches (e.g. the exploded gram frame in dedup_ngram_jaccard
feeds the sizes agg and both join sides).  A bare `.persist()` inside a
query function leaks: the returned DataFrame is lazy, so the operator
cannot unpersist in a try/finally, and cached blocks accumulate across
queries in a long-lived session.

Contract: operators persist through `pin()`, which records the frame in a
session-keyed registry; callers that materialize results release the
blocks with `release_pinned(spark)` (perfbench does after every unit; the
tests rely on the conftest fixture).  Frames are tracked weakly — dropping
every reference lets the JVM-side blocks go with normal cache eviction, so
forgetting to call release degrades to Spark's LRU behavior rather than
an error.  An eager function that materializes its own result, like the
kraken pipeline's run_pipeline and write_outputs, persists and unpersists
its frames itself instead.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession

_PINNED: "weakref.WeakSet[DataFrame]" = weakref.WeakSet()


def pin(df: DataFrame) -> DataFrame:
    """Persist `df` (Spark's default storage level) and track it for
    later release via `release_pinned`."""
    df.persist()
    _PINNED.add(df)
    return df


def release_pinned(spark: SparkSession | None = None) -> int:
    """Unpersist every tracked frame; returns how many were released.
    Safe to call at any time — unpersist on a non-cached frame is a
    no-op, and blocking=False keeps it async."""
    n = 0
    for df in list(_PINNED):
        try:
            df.unpersist(blocking=False)
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    return n

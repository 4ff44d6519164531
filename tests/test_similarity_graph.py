"""Behaviour tests for the mutual-kNN graph family in
operators/similarity_graph.py: the graph-build K rule and router reach,
atomic edge writes, the graph memo and the persisted graph spine."""

from __future__ import annotations

import json
from pathlib import Path
import shutil
import subprocess
import sys

import duckdb
import pytest


def test_graph_ivf_k_constant_cells():
    """The graph-build K rule bounds expected cell membership at
    IVF_ASSIGN * GRAPH_CELL_ROWS for any corpus size (above the floor),
    and the SQL twin computes the identical K."""
    import duckdb

    from bigbugdata_spark.functions.fragments import (
        GRAPH_CELL_ROWS,
        IVF_ASSIGN,
        IVF_K,
        graph_ivf_k,
        sql_graph_ivf_k,
    )

    con = duckdb.connect()
    for n in (100, 2_000, 20_000, 1_000_000, 123_456_789):
        k = graph_ivf_k(n)
        assert k >= IVF_K
        if k > IVF_K:
            # expected members per cell = n * IVF_ASSIGN / K <= bound
            assert n * IVF_ASSIGN / k <= IVF_ASSIGN * GRAPH_CELL_ROWS
        con.sql(f"CREATE OR REPLACE VIEW src AS SELECT * FROM range({n})")
        (sql_k,) = con.sql(f"SELECT {sql_graph_ivf_k('src')}").fetchone()
        assert sql_k == k, f"n={n}: SQL twin {sql_k} != python {k}"


def test_sup_count_twin_and_router_reach():
    """sup_count's SQL twin agrees, and the two-level router's expected
    reach (SUP_ASSIGN * SUP_PROBE * K / SUP cells) always covers the
    widest take the graph build requests (KNN_PROBE)."""
    import duckdb

    from bigbugdata_spark.functions.fragments import (
        IVF_K,
        SUP_ASSIGN,
        SUP_PROBE,
        sql_sup_count,
        sup_count,
    )
    from bigbugdata_spark.operators.similarity_graph import KNN_PROBE

    con = duckdb.connect()
    for k in (IVF_K, 22, 44, 156, 1000, 31623):
        s = sup_count(k)
        (sql_s,) = con.sql(f"SELECT {sql_sup_count(str(k))}").fetchone()
        assert sql_s == s
        assert SUP_ASSIGN * SUP_PROBE * k / s >= KNN_PROBE


def test_knn_edges_atomic_write_leaves_no_tmp(spark, sf_oracle):
    """The generation write goes through a temp sibling + rename
    (ADVICE r11): after a build, the final location exists with
    _SUCCESS and the call leaves no NEW tmp/debris sibling (since r14
    the tmp is uuid-unique, '{loc}.tmp-{hex}').  Snapshot-based so a
    crashed EARLIER run's young leftover (spared by the age-gated
    collector for TTL) reads as pre-existing, not as this write
    leaking."""
    from bigbugdata_spark.operators import similarity_graph as G

    fp = G.generation_fp(sf_oracle)
    loc = Path(G.index_path(f"{G._EDGES_PREFIX}{fp}"))

    def _siblings():
        return {
            p.name
            for pat in (".tmp*", ".debris*")
            for p in loc.parent.glob(loc.name + pat)
        }

    before = _siblings()
    G.knn_edges(spark, sf_oracle)
    assert (loc / "_SUCCESS").exists()
    new = _siblings() - before
    assert not new, new


def test_graph_memo_evicts_other_corpora(spark, sf_oracle, tmp_path):
    """ADVICE r11: touching a second corpus evicts the first corpus's
    memo entries (bounded checkpoint blocks in long-lived sessions)."""
    from bigbugdata_spark.operators import similarity_graph as G

    src = Path(sf_oracle) / "embeddings.parquet"
    dst = tmp_path / "embeddings.parquet"
    if src.is_dir():
        shutil.copytree(str(src), str(dst))
    else:
        shutil.copy(str(src), str(dst))

    G.knn_edges(spark, sf_oracle)
    fp1 = G.generation_fp(sf_oracle)
    assert any(k[1] == fp1 for k in G._MEMO)
    G.knn_edges(spark, str(tmp_path))
    fp2 = G.generation_fp(str(tmp_path))
    assert any(k[1] == fp2 for k in G._MEMO)
    assert not any(k[1] == fp1 for k in G._MEMO), (
        "other-corpus memo entries must be evicted"
    )


# --- session-restart resume for the memoized iterative spine ----------------

_SPINE_RUN = """
import hashlib, json, sys
sys.path.insert(0, sys.argv[1])
from bigbugdata_spark.session import get_spark
from bigbugdata_spark.operators import similarity_graph as G

sf_dir = sys.argv[2]
spark = get_spark(app_name="r16-spine-restart")
rows = sorted(map(tuple, G.knn_edges(spark, sf_dir).collect()))
digest = hashlib.sha256(repr(rows).encode()).hexdigest()
print(json.dumps({"n": len(rows), "digest": digest}))
spark.stop()
"""


@pytest.mark.slow_tier
def test_spine_survives_session_restart_without_rebuild(sf_small):
    """VERDICT r15 #6's restart/resume property for the
    driver-controlled iterative family, proven at the artifact every
    consumer (pagerank / triangles / exemplars / clusters / MMR) rides:
    a FRESH PROCESS with a cold memo must serve the kNN spine from the
    persisted generation with ZERO rebuild I/O — same bytes, untouched
    files.  Two separate interpreter+JVM runs: run 1 builds (generation
    dir removed first), run 2 restarts and adopts.  Adoption is proven
    by inventory (name, size, mtime) of the generation dir being
    IDENTICAL around run 2 — any rebuild rewrites files — and identity
    by the sha256 of the full sorted edge set matching (same parquet
    bytes served, floats included)."""
    import shutil

    from bigbugdata_spark.operators import similarity_graph as G

    loc = Path(G.index_path(f"{G._EDGES_PREFIX}{G.generation_fp(sf_small)}"))
    shutil.rmtree(loc, ignore_errors=True)
    repo = str(Path(__file__).resolve().parents[1])

    def _run():
        proc = subprocess.run(
            [sys.executable, "-c", _SPINE_RUN, repo, sf_small],
            capture_output=True,
            text=True,
            timeout=420,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        return json.loads(proc.stdout.strip().splitlines()[-1])

    r1 = _run()
    assert (loc / "_SUCCESS").exists()
    inventory = sorted(
        (p.name, p.stat().st_size, p.stat().st_mtime_ns)
        for p in loc.iterdir()
    )
    r2 = _run()
    inventory2 = sorted(
        (p.name, p.stat().st_size, p.stat().st_mtime_ns)
        for p in loc.iterdir()
    )
    assert inventory2 == inventory, "restarted session rewrote the generation"
    assert r2 == r1
    assert r1["n"] > 0

"""Round-17 storage properties.

Multi-table append crash consistency for the attach-family index
generations (the window the r16 versioned-commit campaign did not
cover): the gram/LSH/rollup append helpers run one saveAsTable-append
JOB PER TABLE, so a writer killed between jobs tore the generation
while the original build's _SUCCESS files kept the adoption gate
green.  The r17 intent-sentinel protocol (dedup_incr.
begin_append_intent / commit_append_intent / pending_append_intents)
is proven with a REAL process kill between the band and set appends,
an in-process torn-state replication on the three-table gram path,
and the sentinel-free happy path (zero-rebuild adoption preserved,
file-inventory identity).

These tests drive real Spark sessions and a subprocess kill.  No
analog in the reference (it has no storage layer — SURVEY §2.1);
storage extension surface.
"""

from __future__ import annotations

import pytest


# ---------------------------------------------------------------------------
# Multi-table append crash consistency (the r16 campaign's uncovered
#    window): the attach-family index generations are maintained by one
#    saveAsTable-append JOB PER TABLE — a writer killed between jobs
#    left the generation silently torn while the original build's
#    _SUCCESS files still satisfied the adoption gate.  The r17 intent
#    sentinel turns that state into a refused adoption + cold rebuild
#    (correct by the proven append==rebuild equality) and blocks
#    further appends from compounding it.
# ---------------------------------------------------------------------------


_LSH_TORN_CHILD = r"""
import os, sys
sys.path.insert(0, sys.argv[1])
base_dir, full_dir = sys.argv[2], sys.argv[3]
from pyspark.sql import functions as F
from bigbugdata_spark.session import get_spark
import bigbugdata_spark.operators.dedup_incr as L
from bigbugdata_spark.operators.dedup import _doc_shingles
from bigbugdata_spark.operators.dedup_incr import _corpus_fingerprint

spark = get_spark(app_name="torn-append-child")
L.lsh_index(spark, base_dir)                      # build the generation
fp = _corpus_fingerprint(base_dir)

real_append = L.append_bucketed
def die_after_first(df, name, key):
    real_append(df, name, key)                     # band append COMMITS
    print("FIRST_APPEND_DONE", flush=True)
    os._exit(43)                                   # dead before the set append
L.append_bucketed = die_after_first

batch_sh = _doc_shingles(spark, full_dir).filter(
    (F.col("doc_id") >= 25) & (F.col("doc_id") < 30)
)
L.append_batch_to_lsh_index(spark, batch_sh, fp)   # never returns
"""


def _parquet_files(loc):
    import pathlib

    return sorted(
        p.name for p in pathlib.Path(loc).rglob("*.parquet") if p.is_file()
    )


@pytest.mark.slow_tier
def test_lsh_append_killed_between_tables_is_torn_then_rebuilt(
    spark, tmp_path
):
    """REAL process kill between the band append's job commit and the
    set append (os._exit in a subprocess): the band table carries the
    batch, the set table does not, both _SUCCESS files still exist —
    the exact silent-corruption state.  Pin: (a) the intent sentinel
    survives the kill and the torn state is as described, (b) the
    sentinel is invisible to parquet readers of the location,
    (c) adoption in a fresh catalog REFUSES the generation and the
    read path rebuilds cold, leaving no sentinel and no batch rows,
    (d) the rebuilt generation equals a from-scratch build of the same
    corpus content, (e) a re-run of the append then completes and
    commits cleanly."""
    import subprocess
    import sys
    from pathlib import Path

    from pyspark.sql import functions as F

    from tests.test_round10_ops import _doc_rows, _write_docs
    from bigbugdata_spark.operators.dedup import _doc_shingles
    from bigbugdata_spark.operators.dedup_incr import (
        _corpus_fingerprint,
        index_path,
        pending_append_intents,
    )
    import bigbugdata_spark.operators.dedup_incr as L

    rows = _doc_rows()
    base_dir, full_dir = tmp_path / "base", tmp_path / "full"
    _write_docs(spark, [r for r in rows if r[0] < 25], base_dir)
    _write_docs(spark, rows, full_dir)

    repo = str(Path(__file__).resolve().parents[1])
    proc = subprocess.run(
        [sys.executable, "-c", _LSH_TORN_CHILD, repo, str(base_dir),
         str(full_dir)],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 43, proc.stderr[-2000:]
    assert "FIRST_APPEND_DONE" in proc.stdout

    fp = _corpus_fingerprint(str(base_dir))
    band_name, set_name = L._lsh_index_names(fp)
    band_loc, set_loc = index_path(band_name), index_path(set_name)

    # (a) torn: sentinel present; band has the batch's docs, set does not
    torn = pending_append_intents((band_name, set_name))
    assert torn, "intent sentinel must survive the kill"
    band_ids = {
        r["doc_id"]
        for r in spark.read.parquet(band_loc).select("doc_id").distinct().collect()
    }
    set_ids = {
        r["doc_id"]
        for r in spark.read.parquet(set_loc).select("doc_id").distinct().collect()
    }
    assert band_ids >= {25, 26, 27, 28, 29}, "band append committed"
    assert set_ids == set(range(25)), "set append never ran"
    assert (Path(band_loc) / "_SUCCESS").exists()  # the gate _SUCCESS misses
    assert (Path(set_loc) / "_SUCCESS").exists()

    # (b) the sentinel is reader-invisible (underscore hidden-file rule)
    assert spark.read.parquet(band_loc).count() == len(
        spark.read.parquet(band_loc).collect()
    )

    # (c) fresh-catalog read path refuses + rebuilds cold (this parent
    # session never attached these tables, so lsh_index exercises the
    # adoption path directly)
    assert not spark.catalog.tableExists(band_name)
    bands, sets = L.lsh_index(spark, str(base_dir))
    assert not pending_append_intents((band_name, set_name))
    rebuilt_ids = {r["doc_id"] for r in sets.select("doc_id").distinct().collect()}
    assert rebuilt_ids == set(range(25)), "torn batch rows are gone"

    # (d) rebuilt == from-scratch build of identical content (distinct
    # path -> distinct fp, same deterministic band frames)
    copy_dir = tmp_path / "copy"
    _write_docs(spark, [r for r in rows if r[0] < 25], copy_dir)
    cb, cs = L.lsh_index(spark, str(copy_dir))
    rel = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert rel(bands.select("doc_id", "bkey")) == rel(
        cb.select("doc_id", "bkey")
    )
    assert rel(
        sets.select("doc_id", F.sort_array("grams").alias("g"))
    ) == rel(cs.select("doc_id", F.sort_array("grams").alias("g")))

    # (e) the append re-run completes and commits
    batch_sh = _doc_shingles(spark, str(full_dir)).filter(
        (F.col("doc_id") >= 25) & (F.col("doc_id") < 30)
    )
    L.append_batch_to_lsh_index(spark, batch_sh, fp)
    assert not pending_append_intents((band_name, set_name))
    assert {
        r["doc_id"]
        for r in spark.table(set_name).select("doc_id").distinct().collect()
    } == set(range(30))


def test_gram_append_torn_state_blocks_adoption_and_further_appends(
    spark, tmp_path
):
    """The three-table gram path, with the death simulated in-process
    at the exact same on-disk state (sentinel + first append only):
    postings exist for docs with no size/df rows.  Pin: adoption
    refuses, begin_append_intent refuses to compound, and the read
    path's rebuild converges to the pristine relation."""
    import pytest as _pytest
    from pathlib import Path

    from pyspark.sql import functions as F

    from tests.test_round10_ops import _doc_rows, _write_docs
    from bigbugdata_spark.operators.dedup import _doc_shingles
    import bigbugdata_spark.operators.dedup_incr as D
    from bigbugdata_spark.operators.dedup_incr import (
        _corpus_fingerprint,
        attach_index_tables,
        begin_append_intent,
        index_path,
        pending_append_intents,
    )

    rows = _doc_rows()
    base_dir, full_dir = tmp_path / "base", tmp_path / "full"
    _write_docs(spark, [r for r in rows if r[0] < 25], base_dir)
    _write_docs(spark, rows, full_dir)

    D.gram_index(spark, str(base_dir))
    fp = _corpus_fingerprint(str(base_dir))
    names = D._index_names(fp)
    idx_name, sz_name, df_name = names

    batch_grams = (
        _doc_shingles(spark, str(full_dir))
        .filter((F.col("doc_id") >= 25) & (F.col("doc_id") < 30))
        .select("doc_id", F.explode("grams").alias("g"))
    )
    intent = begin_append_intent(names)
    D.append_bucketed(batch_grams, idx_name, "g")  # ...and the writer dies

    assert pending_append_intents(names) == [intent]
    # no compounding: a second append cycle must fail loudly
    with _pytest.raises(RuntimeError, match="torn"):
        begin_append_intent(names)

    # fresh-catalog adoption refuses (drop the session's attach first)
    for n in names:
        spark.sql(f"DROP TABLE {n}")
    assert not attach_index_tables(
        spark,
        (
            (idx_name, "doc_id BIGINT, g BIGINT", "g"),
            (sz_name, "doc_id BIGINT, sz BIGINT", "doc_id"),
            (df_name, "g BIGINT, df_part BIGINT", "g"),
        ),
    ), "a torn generation must never be adopted"

    # the read path rebuilds cold and converges
    idx, sizes, gdf = D.gram_index(spark, str(base_dir))
    assert not pending_append_intents(names)
    assert {
        r["doc_id"] for r in idx.select("doc_id").distinct().collect()
    } == set(range(25))
    # postings and sizes are cross-consistent again
    assert {
        r["doc_id"] for r in sizes.select("doc_id").distinct().collect()
    } == set(range(25))
    # and the sentinel file never leaked into the rebuilt location
    assert not list(Path(index_path(idx_name)).glob("_append_intent-*"))


def test_completed_append_commits_sentinel_free_and_adopts(spark, tmp_path):
    """The happy path around the new window: a COMPLETED append leaves
    no sentinel, and a fresh-catalog adoption of the appended
    generation proceeds with zero rebuild I/O (file inventory
    byte-identical across the adopt)."""
    from pyspark.sql import functions as F

    from tests.test_round10_ops import _doc_rows, _write_docs
    from bigbugdata_spark.operators.dedup import _doc_shingles
    import bigbugdata_spark.operators.dedup_incr as D
    from bigbugdata_spark.operators.dedup_incr import (
        _corpus_fingerprint,
        index_path,
        pending_append_intents,
    )

    rows = _doc_rows()
    base_dir, full_dir = tmp_path / "base", tmp_path / "full"
    _write_docs(spark, [r for r in rows if r[0] < 25], base_dir)
    _write_docs(spark, rows, full_dir)

    D.gram_index(spark, str(base_dir))
    fp = _corpus_fingerprint(str(base_dir))
    names = D._index_names(fp)
    batch_grams = (
        _doc_shingles(spark, str(full_dir))
        .filter((F.col("doc_id") >= 25) & (F.col("doc_id") < 30))
        .select("doc_id", F.explode("grams").alias("g"))
    )
    D.append_batch_to_index(spark, batch_grams, fp)
    assert not pending_append_intents(names)

    inventory_before = {
        n: _parquet_files(index_path(n)) for n in names
    }
    for n in names:
        spark.sql(f"DROP TABLE {n}")
    idx, sizes, gdf = D.gram_index(spark, str(base_dir))  # adopts
    assert {
        n: _parquet_files(index_path(n)) for n in names
    } == inventory_before, "adoption must not rewrite a single file"
    assert {
        r["doc_id"] for r in sizes.select("doc_id").distinct().collect()
    } == set(range(30))

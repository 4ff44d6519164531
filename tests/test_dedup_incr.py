"""The persisted dedup indexes in operators/dedup_incr.py: candidate
volume, session-restart adoption, the generation publish and sweep
protocol under races and fuzz, and torn-append recovery."""

from __future__ import annotations

import json
from pathlib import Path
import subprocess
import sys

from pyspark.sql import functions as F
import pytest


DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _write_docs(spark, rows, path):
    spark.createDataFrame(rows, DOC_SCHEMA).write.parquet(
        str(path / "documents.parquet")
    )


def _doc_rows():
    """40 docs: 0-24 base corpus, then three 5-doc batches (25-29,
    30-34, 35-39) holding exact dups of earlier docs, a near-dup just
    over JACCARD_T, and a cross-batch dup — every cycle must surface
    at least one pair."""
    def words(i):
        return [f"w{i}x{j}" for j in range(12)]

    texts = {i: words(i) for i in range(40)}
    texts[25] = words(3)                      # batch1: exact dup of base
    near = words(5)
    near[6] = "CHANGED"                       # 7/13 shingles shared -> J~0.538
    texts[27] = near                          # batch1: near-dup of base
    texts[30] = words(3)                      # batch2: dup of base AND of 25
    texts[34] = near                          # batch2: dup of 27, near-dup of 5
    texts[35] = words(10)                     # batch3: exact dup of base
    return [
        (i, " ".join(texts[i]), "en", "syn", len(" ".join(texts[i])))
        for i in range(40)
    ]


def _tagged_replication(spark, src_dir: str, out_dir: Path, factor: int):
    """bench._build_scale_dir's documents rule, in miniature: `factor`
    doc replicas with key offsets and per-replica token tags so gram
    spaces are disjoint and near-dup pairs stay within replicas."""
    base = spark.read.parquet(f"{src_dir}/documents.parquet")
    reps = []
    for i in range(factor):
        rep = base.withColumn("doc_id", F.col("doc_id") + F.lit(i * 1_000_000_000))
        if i > 0:
            rep = rep.withColumn(
                "text", F.regexp_replace(F.col("text"), r"(\S+)", f"r{i}$1")
            )
        reps.append(rep)
    out = reps[0]
    for r in reps[1:]:
        out = out.unionByName(r)
    out.write.mode("overwrite").parquet(str(out_dir / "documents.parquet"))


def _candidate_count(spark, sf_dir: str) -> int:
    """The band-collision candidate relation's size for the incremental
    batch slice — the stage BEFORE exact-Jaccard verification, i.e. the
    quantity the collision-bound claim is about."""
    from bigbugdata_spark.operators.dedup import _doc_shingles
    from bigbugdata_spark.operators.dedup_incr import _incoming_col, _band_frame

    sh = _doc_shingles(spark, sf_dir)
    bands = _band_frame(sh)
    batch_bands = _band_frame(sh.filter(_incoming_col()))
    return (
        batch_bands.alias("n")
        .join(bands.alias("c"), "bkey")
        .where(F.col("n.doc_id") != F.col("c.doc_id"))
        .select(F.col("n.doc_id"), F.col("c.doc_id"))
        .distinct()
        .count()
    )


def test_lsh_candidate_volume_linear(spark, tmp_path):
    """The scaling rule's measurable core: with disjoint-gram replicas
    (the honest stand-in for a bigger corpus), band-collision candidate
    volume grows LINEARLY with the corpus — a 3x corpus yields ~3x the
    candidates (each replica contributes its own collisions; random
    cross-replica band collisions are ~2^-256), never the ~9x a
    quadratic all-pairs plan would show."""
    src = "/root/testdata/sf0.01"
    c1 = _candidate_count(spark, src)
    assert c1 > 0, "fixture produced no candidates — the test is vacuous"
    rep_dir = tmp_path / "x3"
    rep_dir.mkdir()
    _tagged_replication(spark, src, rep_dir, 3)
    c3 = _candidate_count(spark, str(rep_dir))
    # exact-linear would be 3x if the batch slice hit each replica
    # identically; the affine batch predicate over offset ids shifts
    # per-replica batch membership, so allow a generous linear band
    # while staying far below quadratic (9x)
    assert c3 <= 4.5 * c1, f"super-linear candidate growth: {c1} -> {c3}"
    assert c3 >= 1.5 * c1, f"candidates did not grow with the corpus: {c1} -> {c3}"


# --- generation publish race (ADVICE r13 #1) --------------------------------


def test_publish_generation_adopts_concurrent_winner(tmp_path, monkeypatch):
    """Two sessions building the same fingerprint: the loser's rename
    lands on the winner's just-renamed non-empty directory and fails
    with ENOTEMPTY.  The deterministic build makes any COMPLETED
    winner artifact equivalent — the loser must adopt it (tmp
    discarded, target untouched); a rename failure onto a target
    WITHOUT _SUCCESS must still raise (that's a half-written dir, and
    rebuilding is the correct response) — discarding our tmp first,
    since a uuid-named tmp can never be adopted by any retry (it
    would only leak, r14 review follow-up)."""
    import errno
    import os

    from bigbugdata_spark.operators.dedup_incr import publish_generation

    def _racing_rename(winner_success):
        def fake(src, dst):
            # the winner publishes between our rmtree and our rename
            os.makedirs(dst)
            if winner_success:
                (tmp_path / os.path.basename(dst) / "_SUCCESS").touch()
            raise OSError(errno.ENOTEMPTY, "Directory not empty", dst)

        return fake

    # adopt path: winner completed -> our tmp is discarded, loc stands
    tmp = tmp_path / "gen_abc.tmp"
    loc = tmp_path / "gen_abc"
    tmp.mkdir()
    (tmp / "part-0.parquet").touch()
    monkeypatch.setattr(os, "rename", _racing_rename(winner_success=True))
    publish_generation(tmp, loc)
    assert (loc / "_SUCCESS").exists() and not tmp.exists()

    # re-raise path: the colliding target is half-written (no _SUCCESS)
    tmp2 = tmp_path / "gen_def.tmp"
    loc2 = tmp_path / "gen_def"
    tmp2.mkdir()
    monkeypatch.setattr(os, "rename", _racing_rename(winner_success=False))
    with pytest.raises(OSError):
        publish_generation(tmp2, loc2)
    # our uuid-named tmp is discarded on the way out — no retry can
    # ever find it, so keeping it would only leak disk
    assert not tmp2.exists()


def test_publish_generation_never_deletes_a_complete_target(tmp_path):
    """A winner that completed while we were building may already be
    READING its artifact: the loser must adopt it WITHOUT the
    rmtree-then-rename window (r14 self-review — the first fix only
    covered the interleaving where the winner renamed between our
    rmtree and our rename)."""
    from bigbugdata_spark.operators.dedup_incr import publish_generation

    tmp = tmp_path / "gen_w.tmp"
    loc = tmp_path / "gen_w"
    tmp.mkdir()
    (tmp / "part-9.parquet").touch()
    loc.mkdir()
    (loc / "_SUCCESS").touch()
    (loc / "part-0.parquet").write_text("winner")
    publish_generation(tmp, loc)
    # the winner's artifact is byte-untouched; our copy is discarded
    assert (loc / "part-0.parquet").read_text() == "winner"
    assert not (loc / "part-9.parquet").exists()
    assert not tmp.exists()


def test_publish_generation_normal_path(tmp_path):
    """No race: tmp moves into place wholesale, replacing any stale
    prior generation directory."""
    from bigbugdata_spark.operators.dedup_incr import publish_generation

    tmp = tmp_path / "gen_x.tmp"
    loc = tmp_path / "gen_x"
    tmp.mkdir()
    (tmp / "_SUCCESS").touch()
    loc.mkdir()
    (loc / "stale").touch()
    publish_generation(tmp, loc)
    assert (loc / "_SUCCESS").exists()
    assert not (loc / "stale").exists()
    assert not tmp.exists()


def test_publish_debris_clear_cannot_destroy_a_late_winner(
    tmp_path, monkeypatch
):
    """The r14-review window: our rename collides with dead-session
    debris, our adopt check sees no _SUCCESS, and a concurrent winner
    completes loc BEFORE our clear executes.  The clear must therefore
    be an atomic rename-aside, never an in-place rmtree of loc — an
    rmtree there deletes a COMPLETE published generation file-by-file
    under any reader.  Pinned by spying rmtree: loc itself is never a
    deletion target; and because the aside turns out COMPLETE, the
    second-pass fix restores it intact (the winner's bytes stand, our
    copy is discarded) rather than replacing it."""
    import errno
    import os
    import shutil

    from bigbugdata_spark.operators.dedup_incr import publish_generation

    tmp = tmp_path / "gen_z.tmp-me"
    tmp.mkdir()
    (tmp / "_SUCCESS").touch()
    (tmp / "part-0.parquet").write_text("mine")
    loc = tmp_path / "gen_z"
    loc.mkdir()  # dead-session debris: non-empty, no _SUCCESS
    (loc / "part-half.parquet").touch()

    real_rename, real_rmtree = os.rename, shutil.rmtree
    rmtree_targets = []
    calls = {"n": 0}

    def racing_rename(src, dst):
        calls["n"] += 1
        if calls["n"] == 1:
            # our tmp -> loc publish collides with the debris
            raise OSError(errno.ENOTEMPTY, "Directory not empty", dst)
        if str(src) == str(loc):
            # the debris clear is executing NOW — the winner completed
            # loc in the window since the adopt check
            (loc / "_SUCCESS").touch()
            (loc / "part-0.parquet").write_text("winner")
        return real_rename(src, dst)

    def spying_rmtree(path, *a, **kw):
        rmtree_targets.append(str(path))
        return real_rmtree(path, *a, **kw)

    monkeypatch.setattr(os, "rename", racing_rename)
    monkeypatch.setattr(shutil, "rmtree", spying_rmtree)
    publish_generation(tmp, loc)
    assert str(loc) not in rmtree_targets, (
        "publish_generation rmtree'd the generation location in place "
        "— a late winner's complete artifact would be destroyed "
        "file-by-file under its readers"
    )
    # converged: the winner's complete artifact was RESTORED in place
    # (not replaced by our byte-equivalent copy) and our tmp discarded
    assert (loc / "_SUCCESS").exists()
    assert (loc / "part-0.parquet").read_text() == "winner"
    assert not tmp.exists()
    # and no debris-aside sibling leaked from the restore path
    assert not list(tmp_path.glob("gen_z.debris-*"))


def test_build_tmp_paths_are_unique_per_builder():
    """Concurrent same-fingerprint builders get DISTINCT tmp dirs — a
    shared literal '.tmp' lets one builder rmtree/overwrite the
    other's in-progress Spark write (r14 review)."""
    import pathlib

    from bigbugdata_spark.operators.dedup_incr import build_tmp_path

    loc = pathlib.Path("/x/knn_edges_aaaaaaaa1111")
    a, b = build_tmp_path(loc), build_tmp_path(loc)
    assert a != b
    for t in (a, b):
        assert t.parent == loc.parent
        assert t.name.startswith("knn_edges_aaaaaaaa1111.tmp-")


def test_sweep_spares_live_same_fp_builds(spark, tmp_path, monkeypatch):
    """sweep_stale_generations must not collect a live same-fp build
    tmp ('{fp}.tmp-{uuid}') from a concurrent session, NOR a same-fp
    debris aside ('{fp}.debris-{uuid}') — the aside may hold a late
    winner's COMPLETE generation inside publish_generation's
    check-to-rename-back window and this sweep has no age gate
    (ADVICE r15); both wait for the TTL-gated
    collect_abandoned_siblings.  Only the published generation name
    and same-fp tmp/debris survive; other-fp generations, their tmps,
    and their debris are fair game."""
    from bigbugdata_spark.operators import dedup_incr as core

    root = tmp_path / "idxroot"
    root.mkdir()
    monkeypatch.setattr(core, "INDEX_ROOT", str(root))
    fp, other = "aaaaaaaa1111", "aaaaaaaa2222"
    keep = [
        f"knn_edges_{fp}",
        f"knn_edges_{fp}.tmp-deadbeef",
        f"knn_edges_{fp}.debris-deadbeef",
    ]
    sweepable = [
        f"knn_edges_{other}",
        f"knn_edges_{other}.tmp-deadbeef",
        f"knn_edges_{other}.debris-deadbeef",
    ]
    for name in keep + sweepable:
        (root / name).mkdir()
    core.sweep_stale_generations(spark, ("knn_edges_",), fp)
    left = sorted(p.name for p in root.iterdir())
    assert left == sorted(keep), left


def test_tmp_ttl_env_parse_survives_garbage(monkeypatch):
    """A malformed SPARK_GRAFT_TMP_TTL_S (e.g. '30m') must fall back
    to the 1800 s default with a warning instead of raising at module
    import and taking down every dedup/similarity query (ADVICE r15);
    a valid override still wins.  r16 folded the per-site parser into
    env_cfg.parse_ttl_env (VERDICT r15 #5) — same contract, and the
    int cast keeps the stricter pre-fold grammar ('3.5' is malformed
    for the tmp TTL, valid for the float-typed GC TTL)."""
    import warnings

    from bigbugdata_spark.env_cfg import parse_ttl_env

    def _parse():
        return parse_ttl_env("SPARK_GRAFT_TMP_TTL_S", 1800, int)

    monkeypatch.setenv("SPARK_GRAFT_TMP_TTL_S", "30m")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert _parse() == 1800
    assert any("SPARK_GRAFT_TMP_TTL_S" in str(x.message) for x in w)
    monkeypatch.setenv("SPARK_GRAFT_TMP_TTL_S", "3.5")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert _parse() == 1800
    assert any("SPARK_GRAFT_TMP_TTL_S" in str(x.message) for x in w)
    monkeypatch.setenv("SPARK_GRAFT_TMP_TTL_S", "42")
    assert _parse() == 42
    monkeypatch.delenv("SPARK_GRAFT_TMP_TTL_S")
    assert _parse() == 1800


def test_collector_reaps_abandoned_spares_live(tmp_path):
    """The age-gated collector removes a dead session's build tmp /
    debris (newest file older than TTL) but spares a fresh one — the
    liveness signal a live Spark write keeps refreshing — and never
    touches the generation location itself or other-name siblings."""
    import os
    import time

    from bigbugdata_spark.operators.dedup_incr import collect_abandoned_siblings

    loc = tmp_path / "gen_q"
    loc.mkdir()
    (loc / "_SUCCESS").touch()
    old_t = time.time() - 7200
    dead_tmp = tmp_path / "gen_q.tmp-dead"
    dead_tmp.mkdir()
    (dead_tmp / "part-0.parquet").touch()
    os.utime(dead_tmp / "part-0.parquet", (old_t, old_t))
    os.utime(dead_tmp, (old_t, old_t))
    dead_debris = tmp_path / "gen_q.debris-dead"
    dead_debris.mkdir()
    os.utime(dead_debris, (old_t, old_t))
    live_tmp = tmp_path / "gen_q.tmp-live"
    live_tmp.mkdir()
    (live_tmp / "part-0.parquet").touch()  # fresh mtime = live write
    other = tmp_path / "gen_qq.tmp-dead"  # different generation name
    other.mkdir()
    os.utime(other, (old_t, old_t))

    collect_abandoned_siblings(loc, ttl_seconds=1800)
    left = sorted(p.name for p in tmp_path.iterdir())
    assert left == ["gen_q", "gen_q.tmp-live", "gen_qq.tmp-dead"], left


def test_collector_liveness_is_newest_file_not_dir_mtime(tmp_path):
    """A long write parks task files under subdirectories (Spark's
    _temporary tree), so the TOP directory's mtime can go stale while
    the build is very much alive — liveness must be the newest mtime
    in the TREE."""
    import os
    import time

    from bigbugdata_spark.operators.dedup_incr import collect_abandoned_siblings

    loc = tmp_path / "gen_r"
    busy = tmp_path / "gen_r.tmp-busy"
    deep = busy / "_temporary" / "0"
    deep.mkdir(parents=True)
    (deep / "task-file").touch()  # fresh — the live signal
    old_t = time.time() - 7200
    os.utime(busy, (old_t, old_t))  # top dir looks stale
    collect_abandoned_siblings(loc, ttl_seconds=1800)
    assert busy.exists()


def test_publish_generation_interleaving_fuzz(tmp_path):
    """Model-check the publish under ADVERSARIAL interleavings: before
    every os.rename / shutil.rmtree the publisher makes, hypothesis
    may have an external winner land a complete generation on any
    absent loc (the only thing rename semantics let a real winner do).
    Machine-checked invariants, for every drawn schedule and starting
    loc state (absent / debris / complete):

    - deletion safety: rmtree only ever targets our own tmp or an
      aside WITHOUT _SUCCESS — never loc, never anyone's complete
      artifact;
    - convergence: a normal return leaves loc complete and our tmp
      consumed/discarded;
    - loud failure: a raise leaves no tmp leak."""
    import os
    import shutil
    from uuid import uuid4

    from hypothesis import given, settings, strategies as st

    from bigbugdata_spark.operators.dedup_incr import publish_generation

    real_rename, real_rmtree = os.rename, shutil.rmtree

    def make_complete(loc):
        os.makedirs(loc)
        with open(os.path.join(loc, "_SUCCESS"), "w"):
            pass
        with open(os.path.join(loc, "part-0.parquet"), "w") as f:
            f.write("external")

    @settings(max_examples=80, deadline=None)
    @given(st.data())
    def run(data):
        case = tmp_path / f"case_{uuid4().hex}"
        case.mkdir()
        loc = case / "gen"
        tmp = case / "gen.tmp-me"
        tmp.mkdir()
        (tmp / "_SUCCESS").touch()
        (tmp / "part-0.parquet").write_text("mine")
        start = data.draw(
            st.sampled_from(["absent", "debris", "complete"])
        )
        if start == "debris":
            loc.mkdir()
            (loc / "part-half.parquet").touch()
        elif start == "complete":
            make_complete(loc)

        violations = []

        def maybe_external():
            if not loc.exists() and data.draw(
                st.booleans(), label="external_publish"
            ):
                make_complete(loc)

        def fuzzed_rename(src, dst):
            maybe_external()
            return real_rename(src, dst)

        def checked_rmtree(path, *a, **kw):
            maybe_external()
            p = str(path)
            if p == str(loc):
                violations.append(f"rmtree of loc {p}")
            elif (
                os.path.isdir(p)
                and os.path.exists(os.path.join(p, "_SUCCESS"))
                and p != str(tmp)
            ):
                violations.append(f"rmtree of a complete artifact {p}")
            return real_rmtree(path, *a, **kw)

        os.rename, shutil.rmtree = fuzzed_rename, checked_rmtree
        try:
            raised = False
            try:
                publish_generation(tmp, loc)
            except OSError:
                raised = True
        finally:
            os.rename, shutil.rmtree = real_rename, real_rmtree
        assert not violations, violations
        if not raised:
            assert (loc / "_SUCCESS").exists(), "returned without artifact"
            assert not tmp.exists(), "returned but tmp not consumed"
        else:
            assert not tmp.exists(), "raised and leaked our tmp"
        shutil.rmtree(case, ignore_errors=True)

    run()


def test_publish_interleaving_fuzz_with_concurrent_sweep(tmp_path):
    """The ADVICE r15 race, model-checked under adversarial schedules:
    before every os.rename / shutil.rmtree the publisher makes, a
    CONCURRENT SESSION may run sweep_stale_generations against the
    same index root (and an external winner may land a complete
    generation on any absent loc).  Every name in this model shares
    the publisher's fingerprint, so the un-age-gated sweep must delete
    NOTHING — one rmtree out of the sweep (the old behavior: same-fp
    debris asides were fair game, racing the publisher's rename-back
    of a late winner's complete generation) is an invariant violation,
    alongside the r14 publish invariants (loc/complete-artifact
    deletion safety, convergence, no tmp leak)."""
    import os
    import shutil
    from uuid import uuid4

    from hypothesis import given, settings, strategies as st

    from bigbugdata_spark.operators import dedup_incr as core

    real_rename, real_rmtree = os.rename, shutil.rmtree
    fp = "aaaaaaaa1111"

    class _StubCatalog:
        def listTables(self):
            return []

    class _StubSpark:
        catalog = _StubCatalog()

    def make_complete(loc):
        os.makedirs(loc)
        with open(os.path.join(loc, "_SUCCESS"), "w"):
            pass
        with open(os.path.join(loc, "part-0.parquet"), "w") as f:
            f.write("external")

    @settings(max_examples=60, deadline=None)
    @given(st.data())
    def run(data):
        case = tmp_path / f"case_{uuid4().hex}"
        case.mkdir()
        loc = case / f"knn_edges_{fp}"
        tmp = case / f"knn_edges_{fp}.tmp-me"
        tmp.mkdir()
        (tmp / "_SUCCESS").touch()
        (tmp / "part-0.parquet").write_text("mine")
        start = data.draw(
            st.sampled_from(["absent", "debris", "complete"])
        )
        if start == "debris":
            loc.mkdir()
            (loc / "part-half.parquet").touch()
        elif start == "complete":
            make_complete(loc)

        violations = []
        state = {"in_adversary": False, "in_sweep": False}

        def maybe_adversary():
            if state["in_adversary"]:
                return
            state["in_adversary"] = True
            try:
                if not loc.exists() and data.draw(
                    st.booleans(), label="external_publish"
                ):
                    make_complete(loc)
                if data.draw(st.booleans(), label="concurrent_sweep"):
                    state["in_sweep"] = True
                    try:
                        core.sweep_stale_generations(
                            _StubSpark(), ("knn_edges_",), fp
                        )
                    finally:
                        state["in_sweep"] = False
            finally:
                state["in_adversary"] = False

        def fuzzed_rename(src, dst):
            maybe_adversary()
            return real_rename(src, dst)

        def checked_rmtree(path, *a, **kw):
            p = str(path)
            if state["in_sweep"]:
                violations.append(f"sweep deleted same-fp sibling {p}")
                return  # model the damage as prevented; count it
            maybe_adversary()
            if p == str(loc):
                violations.append(f"rmtree of loc {p}")
            elif (
                os.path.isdir(p)
                and os.path.exists(os.path.join(p, "_SUCCESS"))
                and p != str(tmp)
            ):
                violations.append(f"rmtree of a complete artifact {p}")
            return real_rmtree(path, *a, **kw)

        os.rename, shutil.rmtree = fuzzed_rename, checked_rmtree
        try:
            # the sweep must also spare everything when run against the
            # starting state directly (the static exclusion), not just
            # mid-publish
            monkey_root = core.INDEX_ROOT
            core.INDEX_ROOT = str(case)
            raised = False
            try:
                core.publish_generation(tmp, loc)
            except OSError:
                raised = True
        finally:
            core.INDEX_ROOT = monkey_root
            os.rename, shutil.rmtree = real_rename, real_rmtree
        assert not violations, violations
        if not raised:
            assert (loc / "_SUCCESS").exists(), "returned without artifact"
            assert not tmp.exists(), "returned but tmp not consumed"
        else:
            assert not tmp.exists(), "raised and leaked our tmp"
        real_rmtree(case, ignore_errors=True)

    run()


_ATTACH_RUN = """
import json, sys
sys.path.insert(0, sys.argv[1])
from importlib import import_module
from bigbugdata_spark.session import get_spark

mod = import_module(sys.argv[2])
fn = getattr(mod, sys.argv[3])
spark = get_spark(app_name="r16-attach-restart")
out = fn(spark, sys.argv[4])
frames = out if isinstance(out, tuple) else (out,)
print(json.dumps([f.count() for f in frames]))
spark.stop()
"""


@pytest.mark.slow_tier
def test_attach_family_indexes_survive_session_restart(spark, sf_small):
    """The catalog-ATTACH half of the restart matrix: the three
    saveAsTable-published warm-path artifacts (gram index, LSH
    band+set pair, rollup partial store) must be adopted by a truly
    fresh interpreter+JVM — whose catalog is empty by construction —
    via attach_index_tables, with zero rebuild I/O.  Together with the
    spine/IVF path-read proofs above, every persisted artifact family
    the wall gates rest on is restart-proven cross-process (the r9
    in-session DROP-TABLE simulation covered attach logic; this covers
    the cold metastore).  Counts must match between the building and
    the adopting run; the parquet inventory must be untouched."""
    import shutil
    from importlib import import_module

    from bigbugdata_spark.operators.dedup_incr import index_path

    di = import_module("bigbugdata_spark.operators.dedup_incr")
    er = import_module("bigbugdata_spark.operators.events")
    specs = [
        (
            "bigbugdata_spark.operators.dedup_incr",
            "gram_index",
            di._index_names(di._corpus_fingerprint(sf_small)),
        ),
        (
            "bigbugdata_spark.operators.dedup_incr",
            "lsh_index",
            di._lsh_index_names(di._corpus_fingerprint(sf_small)),
        ),
        (
            "bigbugdata_spark.operators.events",
            "rollup_store",
            (f"{er._PREFIX}{er._corpus_fingerprint(sf_small, 'events.parquet')}",),
        ),
    ]
    repo = str(Path(__file__).resolve().parents[1])

    def _run(mod, fn):
        proc = subprocess.run(
            [sys.executable, "-c", _ATTACH_RUN, repo, mod, fn, sf_small],
            capture_output=True,
            text=True,
            timeout=420,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        return json.loads(proc.stdout.strip().splitlines()[-1])

    for mod, fn, names in specs:
        # cold start: this session's catalog entries dropped (external
        # tables — files persist) and the generations removed so run 1
        # must BUILD
        for n in names:
            spark.sql(f"DROP TABLE IF EXISTS {n}")
            shutil.rmtree(index_path(n), ignore_errors=True)
        counts1 = _run(mod, fn)
        inv1 = sorted(
            (n, p.name, p.stat().st_size, p.stat().st_mtime_ns)
            for n in names
            for p in Path(index_path(n)).glob("*.parquet")
        )
        assert inv1, f"{fn}: run 1 must build the generation"
        counts2 = _run(mod, fn)
        inv2 = sorted(
            (n, p.name, p.stat().st_size, p.stat().st_mtime_ns)
            for n in names
            for p in Path(index_path(n)).glob("*.parquet")
        )
        assert inv2 == inv1, f"{fn}: restarted session rewrote the index"
        assert counts2 == counts1 and all(c > 0 for c in counts1), fn


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

"""Incremental ingest dedup through persisted indexes.

The shared index plumbing (per-user index root, bucketed appends, the
append-intent crash protocol, generation publishing and sweeping), the
n-gram gram index path, and the persisted LSH band index path.
"""

from __future__ import annotations

import getpass
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from bigbugdata_spark.caching import pin
from bigbugdata_spark.env_cfg import parse_ttl_env
from bigbugdata_spark.functions import hashing as H
from bigbugdata_spark.functions.fragments import CLUSTER_KEEP_SQL, JACCARD_T
from bigbugdata_spark.operators.dedup import (
    LSH_BANDS,
    LSH_ROWS,
    _doc_shingles,
    dedup_cluster_keep,
)
from bigbugdata_spark.registry import register


# ---------------------------------------------------------------------------
# Shared core of the two persisted incremental-dedup index paths
# (operators/dedup_incr.py's gram index and operators/dedup_incr.py's
# LSH band index), also used by the kNN graph spine and the incremental
# IVF index.
#
# Also hardens the index root per the round-9 advisory: the root is
# per-user (not the world-shared /tmp/bigbugdata-warehouse), created
# 0o700, and generation sweeps are scoped to the CURRENT corpus path —
# an index built by another session for a different sf_dir is never
# deleted mid-query, and a different user's directory is never adopted.
#
# No analog in the reference (SURVEY §2.1); LLM-pipeline extension
# surface.
# ---------------------------------------------------------------------------


#: bucket count for the persisted index tables — a multiple of the
#: local core count; at 100 TB this scales with the executor fleet.
INDEX_BUCKETS = 16

#: explicit external-table root for every persisted index — independent
#: of the running session's warehouse config, so the index never lands
#: in a ./spark-warehouse inside the working tree (the round driver
#: runs these queries under its own session settings).  PER-USER
#: (advisory r9): a world-shared fixed path lets a concurrent session
#: plant or delete a generation; scoping by user + 0o700 closes both.
INDEX_ROOT = os.path.join(
    tempfile.gettempdir(), f"bigbugdata-warehouse-{getpass.getuser()}"
)


def ensure_index_root() -> None:
    """Create (or adopt) the per-user index root, then VERIFY it: with
    exist_ok=True a pre-existing directory is adopted silently, so a
    /tmp squat — another local user pre-creating the victim's path
    world-writable — would otherwise reopen exactly the planting hole
    the per-user scoping closed (advisory r10; this is the tempfile
    secure-per-user-dir pattern: stat, check owner, strip group/other
    bits, fail loudly on a foreign owner)."""
    os.makedirs(INDEX_ROOT, mode=0o700, exist_ok=True)
    st = os.stat(INDEX_ROOT, follow_symlinks=False)
    if not os.path.isdir(INDEX_ROOT) or os.path.islink(INDEX_ROOT):
        raise RuntimeError(f"index root {INDEX_ROOT!r} is not a directory")
    if st.st_uid != os.getuid():
        raise RuntimeError(
            f"index root {INDEX_ROOT!r} is owned by uid {st.st_uid}, "
            f"not the current user (uid {os.getuid()}) — refusing to "
            "use a directory another user pre-created"
        )
    if st.st_mode & 0o077:
        os.chmod(INDEX_ROOT, 0o700)


def index_path(name: str) -> str:
    return f"{INDEX_ROOT}/{name}"


#: sentinel-file prefix for the multi-table append commit protocol.
#: Underscore-prefixed so Hadoop/Spark's hidden-file filter keeps it
#: out of every parquet scan of the table location it lives in.
_APPEND_INTENT_PREFIX = "_append_intent-"


def pending_append_intents(names: tuple[str, ...]) -> list[str]:
    """Leftover append-intent sentinels across a generation's table
    locations — non-empty means a multi-table append began and never
    completed (writer crashed between the intent and the final
    append's job commit), so the generation is TORN: some tables carry
    the batch, others don't, and the `_SUCCESS` files from the
    original build still make every location look complete."""
    from pathlib import Path

    out: list[str] = []
    for n in names:
        loc = Path(index_path(n))
        if loc.is_dir():
            out.extend(
                str(p) for p in loc.glob(f"{_APPEND_INTENT_PREFIX}*")
            )
    return out


def begin_append_intent(names: tuple[str, ...]) -> str:
    """Open the crash-consistency window for a multi-table index
    append (r17; the gap the r16 versioned-commit campaign did not
    cover): the append helpers run one saveAsTable-append JOB PER
    TABLE, and a writer killed between jobs — or inside a job commit,
    which moves task files into place non-atomically — leaves the
    generation silently inconsistent while every `_SUCCESS` from the
    original build still satisfies the adoption gate.

    Protocol: write one `_append_intent-<uuid>` sentinel into the
    FIRST table's location (single atomic file create; underscore
    prefix keeps it invisible to readers) BEFORE the first append job;
    remove it with commit_append_intent after the last job commits.  A
    crash anywhere between leaves the sentinel, and then (a)
    attach_index_tables refuses to adopt the generation, so the next
    session's read path falls through to remove_incomplete_locations +
    a cold rebuild — correct by the proven append==rebuild equality —
    and (b) this function refuses to open a new window, so a torn
    generation can only be rebuilt, never compounded by further
    appends."""
    import json as _json
    import time as _time
    from pathlib import Path
    from uuid import uuid4

    torn = pending_append_intents(names)
    if torn:
        raise RuntimeError(
            f"index generation is torn (leftover append intent(s) "
            f"{torn}): a prior multi-table append never completed — "
            "rebuild the generation before appending again"
        )
    anchor = Path(index_path(names[0]))
    if not anchor.is_dir():
        raise RuntimeError(
            f"cannot append to a generation whose anchor location "
            f"{anchor} does not exist — build it first"
        )
    p = anchor / f"{_APPEND_INTENT_PREFIX}{uuid4().hex}"
    with open(p, "x") as fh:
        fh.write(_json.dumps({"tables": list(names), "ts": _time.time()}))
        fh.flush()
        os.fsync(fh.fileno())
    return str(p)


def commit_append_intent(intent_path: str) -> None:
    """Close the window opened by begin_append_intent — called only
    after EVERY append job of the batch has committed."""
    os.remove(intent_path)


def attach_index_tables(
    spark: SparkSession, specs: tuple[tuple[str, str, str], ...]
) -> bool:
    """ATTACH an existing on-disk index generation to this session's
    catalog instead of rebuilding it (the in-memory catalog is
    per-session, but the external-table files persist and are keyed by
    content fingerprint, so a fresh session can adopt them): CREATE the
    bucketed external tables over the existing locations via DDL —
    CLUSTERED BY must be declared in DDL, the DataFrame createTable API
    cannot express it.  specs = ((table_name, "col TYPE, ...", bucket_col),
    ...); returns False (no attach) unless EVERY location holds a
    completed write (_SUCCESS).  Adoption is safe against planting
    because INDEX_ROOT is per-user 0o700 and table names embed the
    corpus CONTENT fingerprint."""
    from pathlib import Path

    if not all(
        (Path(index_path(n)) / "_SUCCESS").exists() for n, _, _ in specs
    ):
        return False
    # a leftover append-intent sentinel means a multi-table append died
    # mid-flight: the `_SUCCESS` files above are the ORIGINAL build's
    # and prove nothing about cross-table consistency — refuse, so the
    # caller's remove_incomplete_locations + cold-rebuild path runs
    # (r17; correct by the append==rebuild equality)
    if pending_append_intents(tuple(n for n, _, _ in specs)):
        return False
    for name, schema, key in specs:
        spark.sql(
            f"CREATE TABLE {name} ({schema}) USING parquet "
            f"CLUSTERED BY ({key}) SORTED BY ({key}) "
            f"INTO {INDEX_BUCKETS} BUCKETS "
            f"LOCATION '{index_path(name)}'"
        )
    return True


# deterministic affine-hash "today's batch" predicate (~10% of docs);
# distinct constants from the split/mix/seed hashes so the slice does
# not correlate with any other assignment
_INC_A, _INC_B, _INC_P, _INC_MOD, _INC_REM = 94_651, 10_399, 1_000_000_007, 10, 3
_INC_PRED_SQL = (
    f"((doc_id * {_INC_A} + {_INC_B}) % {_INC_P}) % {_INC_MOD} = {_INC_REM}"
)


def _incoming_col():
    return (
        (F.col("doc_id") * _INC_A + _INC_B) % _INC_P % _INC_MOD == _INC_REM
    )


def _corpus_path_fp(sf_dir: str, table_file: str = "documents.parquet") -> str:
    """8-hex digest of the corpus' resolved path alone — the sweep
    scope: generations from OTHER corpora share the table-name prefix
    but not this component, so they are never swept."""
    import hashlib
    from pathlib import Path

    p = Path(sf_dir) / table_file
    return hashlib.sha256(str(p.resolve()).encode()).hexdigest()[:8]


def _corpus_fingerprint(
    sf_dir: str, table_file: str = "documents.parquet"
) -> str:
    """Fingerprint of one source table: 8 hex chars of path digest +
    8 of content digest (file sizes + mtimes) — the persisted indexes
    are keyed by the full 16, so a regenerated corpus (or a different
    scale factor at the same path) never serves a stale index, while
    the path prefix lets sweeps stay corpus-scoped.  `table_file`
    defaults to the dedup indexes' documents source; the rollup store
    fingerprints events.parquet through the same helper."""
    import hashlib
    from pathlib import Path

    p = Path(sf_dir) / table_file
    h = hashlib.sha256()
    files = sorted(p.rglob("*")) if p.is_dir() else [p]
    for f in files:
        if f.is_file():
            st = f.stat()
            h.update(f"{f.name}:{st.st_size}:{st.st_mtime_ns};".encode())
    return _corpus_path_fp(sf_dir, table_file) + h.hexdigest()[:8]


def sweep_stale_generations(
    spark: SparkSession, prefixes: tuple[str, ...], fp: str
) -> None:
    """Drop catalog entries and on-disk directories for SAME-CORPUS
    generations whose content fingerprint differs from `fp` (the corpus
    was regenerated).  The in-memory catalog is per-session, so stale
    generations from dead sessions never appear in listTables — the
    filesystem sweep is the real one.  Scoped to fp's path component:
    another session's index over a DIFFERENT corpus path survives
    (advisory r9 — the old sweep deleted any other-fingerprint
    generation, racing concurrent sessions on other scale factors)."""
    import shutil
    from pathlib import Path

    path_fp = fp[:8]

    def _stale(name: str, prefix: str) -> bool:
        tail = name[len(prefix):]
        # a live same-fp BUILD ('{fp}.tmp-{uuid}', build_tmp_path) is
        # not stale — sweeping it from a concurrent session would kill
        # an in-progress write (r14 review); likewise a same-fp ASIDE
        # ('{fp}.debris-{uuid}') may hold a late winner's COMPLETE
        # generation inside publish_generation's check-to-rename-back
        # window, and this sweep has no age gate (ADVICE r15) — both
        # are left to the TTL-gated collect_abandoned_siblings; dead
        # same-fp leftovers leak only until the corpus regenerates,
        # when the fp rotates and they match here like any other
        # stale dir
        return (
            tail.startswith(path_fp)
            and tail != fp
            and not tail.startswith(f"{fp}.tmp")
            and not tail.startswith(f"{fp}.debris")
        )

    for t in spark.catalog.listTables():
        for prefix in prefixes:
            if t.name.startswith(prefix) and _stale(t.name, prefix):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    root = Path(INDEX_ROOT)
    if root.is_dir():
        for d in root.iterdir():
            for prefix in prefixes:
                if d.name.startswith(prefix) and _stale(d.name, prefix):
                    shutil.rmtree(d, ignore_errors=True)


def build_tmp_path(loc):
    """A UNIQUE tmp sibling for a generation build.  Concurrent
    same-fingerprint builders must never share a literal '.tmp'
    directory — each would rmtree/overwrite the other's in-progress
    Spark write mid-build, the exact race the publish retry cannot
    reach back and fix (r14 review; the uuid-suffix precedent is
    sources/versioned.py's staging dir).  The '{fp}.tmp-' shape also
    lets sweep_stale_generations recognize a live same-fp build and
    leave it alone."""
    from pathlib import Path
    from uuid import uuid4

    loc = Path(loc)
    return loc.with_name(f"{loc.name}.tmp-{uuid4().hex}")


#: abandoned build-tmp / debris collection age: a sibling whose newest
#: file is older than this is a dead session's leftover, not a live
#: build.  Local builds take seconds; a cluster deployment whose
#: generation builds can exceed this must raise it (env override) or
#: a concurrent session's collector could abort a live build's write —
#: loudly (the build's job fails and reruns), never silently.  A
#: malformed value degrades to the default with a warning, never an
#: import-time raise (ADVICE r15; parser shared with the versioned
#: table's GC TTL per VERDICT r15 #5).
ABANDONED_TMP_TTL_S = parse_ttl_env("SPARK_GRAFT_TMP_TTL_S", 1800, int)


def collect_abandoned_siblings(loc, ttl_seconds: int | None = None) -> None:
    """Remove ABANDONED '{loc}.tmp-*' / '{loc}.debris-*' siblings.
    uuid-unique build tmps mean a crashed builder's tmp is never
    reused and — being same-fp — never matches the stale sweep either
    (r14 review follow-up: without this, dead-session tmps leak until
    the corpus fingerprint rotates, which for a stable corpus is
    never).  Liveness is judged by the newest mtime in the tree, so a
    live Spark write (task files landing continuously) always reads
    fresh."""
    import shutil
    import time
    from pathlib import Path

    ttl = ABANDONED_TMP_TTL_S if ttl_seconds is None else ttl_seconds
    loc = Path(loc)
    cutoff = time.time() - ttl
    for pat in (".tmp*", ".debris*"):
        for d in loc.parent.glob(loc.name + pat):
            try:
                newest = max(
                    (f.stat().st_mtime for f in d.rglob("*") if f.is_file()),
                    default=d.stat().st_mtime,
                )
            except OSError:
                continue  # vanished under us (another collector won)
            if newest < cutoff:
                shutil.rmtree(d, ignore_errors=True)


def publish_generation(tmp, loc) -> None:
    """Move a COMPLETED tmp build into its generation location,
    surviving the two-publisher race (ADVICE r13 #1): generation builds
    are deterministic per fingerprint (content + algo version), so any
    winner's completed artifact is byte-equivalent.

    NEVER delete a complete target (r14 self-review, twice; hardened
    again by the r14 review): rename FIRST — a complete target can
    only come into being via another publisher's whole-directory
    rename, and rename(2) refuses to land on a non-empty directory.
    On rename failure: a _SUCCESS target is the winner's — adopt it,
    discarding our copy.  Otherwise loc is dead-session debris — but
    between that check and any delete, a concurrent winner may clear
    the debris itself and rename a COMPLETE generation in, so debris
    is never rmtree'd in place: it is renamed ASIDE atomically first.
    A rename can only relocate, not destroy — and if the aside turns
    out to hold a COMPLETE generation (the winner published inside the
    check-to-rename window), it is renamed straight back, shrinking
    the reader-visible missing-loc window to the two renames; only a
    crash between them leaves the artifact under a debris name, where
    the collector reaps it and the next caller rebuilds cold.  A
    second rename failure without _SUCCESS discards our tmp (nothing
    can ever adopt a uuid-named tmp) and re-raises — the caller's
    rebuild path."""
    import shutil
    from pathlib import Path
    from uuid import uuid4

    tmp, loc = Path(tmp), Path(loc)
    for attempt in (0, 1):
        if (loc / "_SUCCESS").exists():
            shutil.rmtree(tmp, ignore_errors=True)
            return
        try:
            os.rename(tmp, loc)
            return
        except OSError:
            if (loc / "_SUCCESS").exists():
                shutil.rmtree(tmp, ignore_errors=True)
                return
            if attempt:
                shutil.rmtree(tmp, ignore_errors=True)
                raise
            aside = loc.with_name(f"{loc.name}.debris-{uuid4().hex}")
            try:
                os.rename(loc, aside)
            except OSError:
                pass  # another publisher already cleared the debris
            else:
                if (aside / "_SUCCESS").exists():
                    # we moved a winner's complete generation aside:
                    # restore it (if a third publisher landed on loc
                    # meanwhile, the top-of-loop adopt check covers us
                    # and the aside is left for the collector)
                    try:
                        os.rename(aside, loc)
                    except OSError:
                        pass
                else:
                    shutil.rmtree(aside, ignore_errors=True)


def remove_incomplete_locations(names: tuple[str, ...]) -> None:
    """An INCOMPLETE directory may survive from a dead session
    (external-table location conflict) — stale by definition, remove
    before re-creating."""
    import shutil
    from pathlib import Path

    for name in names:
        loc = Path(index_path(name))
        if loc.exists():
            shutil.rmtree(loc, ignore_errors=True)


def append_bucketed(
    df: DataFrame, name: str, key: str
) -> None:
    """One batch's rows APPEND into an existing bucketed table (same
    bucket spec, so co-location survives; each append adds one file per
    bucket — the compaction story in sources/versioned.py applies when
    file counts grow)."""
    (
        df.write.format("parquet")
        .bucketBy(INDEX_BUCKETS, key)
        .sortBy(key)
        .option("path", index_path(name))
        .mode("append")
        .saveAsTable(name)
    )


# ---------------------------------------------------------------------------
# Incremental ingest dedup + cluster-size histogram, built on dedup.py's
# shingling and cluster-keep sub-plans.  The index plumbing shared with
# the LSH twin (root, buckets, fingerprints, attach, sweeps, the batch
# predicate) lives in operators/dedup_incr.py; its names are
# re-exported here.
#
# No analog in the reference (SURVEY §2.1); LLM-pipeline extension
# surface.
# ---------------------------------------------------------------------------


def _index_names(fp: str) -> tuple[str, str, str]:
    return f"gram_idx_{fp}", f"gram_sz_{fp}", f"gram_df_{fp}"


def gram_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The PERSISTED corpus-side inverted index (r8 verdict item 4):
    three bucketed catalog tables, built once per corpus content and
    reused by every subsequent ingest cycle —

      gram_idx_<fp> (doc_id, g)   bucketed+sorted by g: the postings
                                  the batch side probes;
      gram_sz_<fp>  (doc_id, sz)  bucketed by doc_id: per-doc distinct
                                  gram counts for the Jaccard union;
      gram_df_<fp>  (g, df_part)  bucketed by g: per-gram document-
                                  frequency PARTIALS — append-only
                                  delta rows that readers SUM by g
                                  (shuffle-free on the bucketed
                                  layout), so incremental maintenance
                                  never rewrites existing rows.

    Through round 8 the corpus was re-shingled on EVERY ingest run —
    linear in the corpus, the 3.12x scale-probe ceiling.  Persisting
    moves that cost to one amortized build; the per-run cost is then
    batch shingling + the bucketed probe join, both linear in the
    BATCH.  append_batch_to_index is the maintenance path: after a
    batch is admitted its grams append into the same bucket layout
    (proven equal to a from-scratch rebuild by test).  Old-fingerprint
    SAME-CORPUS index generations are swept at build time (scoped by
    the fingerprint's path component — see dedup_incr_core)."""
    fp = _corpus_fingerprint(sf_dir)
    idx_name, sz_name, df_name = _index_names(fp)
    if not spark.catalog.tableExists(idx_name):
        from bigbugdata_spark.sources.bucketed import write_bucketed

        ensure_index_root()
        sweep_stale_generations(
            spark, ("gram_idx_", "gram_sz_", "gram_df_"), fp
        )
        # a completed same-fingerprint generation from another session
        # is ADOPTED, not rebuilt — the restart-survival half of the
        # amortization story
        if attach_index_tables(
            spark,
            (
                (idx_name, "doc_id BIGINT, g BIGINT", "g"),
                (sz_name, "doc_id BIGINT, sz BIGINT", "doc_id"),
                (df_name, "g BIGINT, df_part BIGINT", "g"),
            ),
        ):
            return (
                spark.table(idx_name),
                spark.table(sz_name),
                spark.table(df_name),
            )
        remove_incomplete_locations(_index_names(fp))
        sh = _doc_shingles(spark, sf_dir)
        grams = pin(sh.select("doc_id", F.explode("grams").alias("g")))
        write_bucketed(
            grams, idx_name, "g", n_buckets=INDEX_BUCKETS,
            path=index_path(idx_name),
        )
        write_bucketed(
            grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz")),
            sz_name,
            "doc_id",
            n_buckets=INDEX_BUCKETS,
            path=index_path(sz_name),
        )
        write_bucketed(
            grams.groupBy("g").agg(F.count(F.lit(1)).alias("df_part")),
            df_name,
            "g",
            n_buckets=INDEX_BUCKETS,
            path=index_path(df_name),
        )
        grams.unpersist(blocking=False)
    return (
        spark.table(idx_name),
        spark.table(sz_name),
        spark.table(df_name),
    )


def append_batch_to_index(
    spark: SparkSession, batch_grams: DataFrame, fp: str
) -> None:
    """Incremental index maintenance — the SCD2-history shape the r8
    verdict asked for: an admitted batch's grams APPEND into the three
    bucketed tables (same bucket spec, so co-location survives; each
    append adds one file per bucket — the compaction story in
    sources/versioned.py applies when file counts grow).  df rows are
    per-batch partials; readers aggregate SUM(df_part) BY g, so no
    existing row is ever rewritten.  `batch_grams` is (doc_id, g) for
    the batch's documents only."""
    idx_name, sz_name, df_name = _index_names(fp)
    batch_grams = pin(batch_grams)
    # crash-consistency window (r17): three append JOBS with no
    # cross-table atomicity — the intent sentinel makes a writer death
    # anywhere in between read as "generation torn, rebuild cold"
    # instead of silently serving postings without size/df rows
    intent = begin_append_intent((idx_name, sz_name, df_name))
    append_bucketed(batch_grams, idx_name, "g")
    append_bucketed(
        batch_grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz")),
        sz_name,
        "doc_id",
    )
    append_bucketed(
        batch_grams.groupBy("g").agg(F.count(F.lit(1)).alias("df_part")),
        df_name,
        "g",
    )
    commit_append_intent(intent)
    batch_grams.unpersist(blocking=False)


@register(
    "dedup_incremental",
    oracle=f"""
        WITH sh AS (
            SELECT doc_id,
                   {H.sql_shingle_hashes(H.sql_word_hashes(H.sql_tokens('text')))}
                       AS grams
            FROM documents
        ),
        grams AS (
            SELECT doc_id, unnest(grams) AS g FROM sh WHERE len(grams) > 0
        ),
        sizes AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
            FROM grams GROUP BY doc_id
        ),
        newg AS (SELECT * FROM grams WHERE {_INC_PRED_SQL}),
        common AS (
            SELECT n.doc_id AS new_id, c.doc_id AS match_id,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM newg n JOIN grams c ON n.g = c.g AND n.doc_id <> c.doc_id
            GROUP BY n.doc_id, c.doc_id
        )
        SELECT new_id, match_id,
               CAST(c AS DOUBLE) / (s1.sz + s2.sz - c) AS jaccard
        FROM common
        JOIN sizes s1 ON common.new_id = s1.doc_id
        JOIN sizes s2 ON common.match_id = s2.doc_id
        WHERE CAST(c AS DOUBLE) / (s1.sz + s2.sz - c) >= {JACCARD_T}
    """,
    tags=("dedup", "join"),
    index_writer=True,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INGEST-SHAPED near-dup detection (round 7): for every document in
    "today's batch" (a deterministic ~10% affine-hash slice standing in
    for the daily arrival), its near-dup partners ANYWHERE in the corpus
    — (new_id, match_id, jaccard), both directions when two new docs
    collide. This is the query a production pipeline actually runs per
    ingest cycle: the decision "admit or drop this new document" needs
    new-vs-corpus pairs only, never corpus-vs-corpus.

    THE scale point: the inverted-index join is ASYMMETRIC — the
    corpus side is the PERSISTED bucketed gram index (built once per
    corpus content, appended per admitted batch), and only the batch
    slice's grams enter the join's left side, so a warm ingest cycle
    pays batch shingling + |batch| x matches — never corpus
    re-shingling, never the corpus-squared cost a full-dedup re-run
    would pay per day. At 100 TB with a 0.1% daily batch that
    asymmetry is the difference between a nightly job and an
    impossibility; the stop-gram cap story from dedup_ngram_jaccard
    applies to the shared gram key unchanged — and incremental_pairs'
    salt_hot_df option is the EXACT alternative for hot grams that
    must be kept."""
    return incremental_pairs(spark, sf_dir)


def incremental_pairs(
    spark: SparkSession,
    sf_dir: str,
    salt_hot_df: int | None = None,
    n_salts: int = 8,
) -> DataFrame:
    """The dedup_incremental plan, with an optional SKEW-SALT valve
    (round 8, VERDICT r7 #6): the stop-gram cap drops hot grams —
    cheap, but lossy when a hot gram carries real signal. Salting keeps
    them EXACTLY: corpus-side occurrences of any gram whose document
    frequency exceeds `salt_hot_df` get a deterministic doc-hash salt
    in [0, n_salts); batch-side occurrences of the same grams REPLICATE
    across all n_salts shards; the join key becomes (g, salt). Every
    (batch-occurrence, corpus-occurrence) pair still matches exactly
    once — the corpus row carries one salt, the batch side covers all
    of them — so counts, Jaccard, and the result relation are identical
    to the unsalted join (tests/test_extensions.py proves equality on a
    synthetic hot-gram corpus), while the hot gram's reducer work
    spreads over n_salts tasks instead of one straggler. Cost: batch
    rows for hot grams fan out n_salts-fold — bounded by
    |hot batch grams| x n_salts, the standard replicate-the-small-side
    trade. The hot-gram set is (tiny) broadcast state: grams hotter
    than salt_hot_df come straight from the persisted df table instead
    of a full-index aggregate.

    Round 9: the corpus side is the PERSISTED bucketed gram index
    (gram_index above) — built once per corpus content, so a warm
    ingest cycle shingles only the batch and probes the index, never
    re-shingling the corpus (this registered read query materializes
    storage on first run, the corpus_version_diff precedent)."""
    idx, sizes, gdf = gram_index(spark, sf_dir)
    grams = idx
    # batch-side shingles: computed from the documents scan with the
    # batch predicate applied BELOW the shingle projection — only ~10%
    # of the corpus' text is ever tokenized per run.  The batch doc's
    # own gram count rides along as sz1 (r17, guide §2.4): F.size of
    # the shingle array IS the exploded per-doc count the persisted
    # gram_sz table stores (explode preserves cardinality), so the
    # new_id-side size join against the corpus-wide table — one join +
    # one shuffle of the pair frame + one index-table probe per cycle —
    # is free to drop; only the match side still probes gram_sz.
    newg = (
        _doc_shingles(spark, sf_dir)
        .filter(_incoming_col())
        .select(
            "doc_id",
            F.size("grams").alias("sz1"),
            F.explode("grams").alias("g"),
        )
    )
    if salt_hot_df is None:
        common = (
            newg.alias("n")
            .join(
                grams.alias("c"),
                (F.col("n.g") == F.col("c.g"))
                & (F.col("n.doc_id") != F.col("c.doc_id")),
            )
            .groupBy(
                F.col("n.doc_id").alias("new_id"),
                F.col("c.doc_id").alias("match_id"),
                # constant per new_id — grouping by it changes nothing
                F.col("n.sz1").alias("sz1"),
            )
            .agg(F.count(F.lit(1)).alias("c"))
        )
    else:
        hot = F.broadcast(
            gdf.groupBy("g")
            .agg(F.sum("df_part").alias("df"))
            .filter(F.col("df") > salt_hot_df)
            .select("g", F.lit(True).alias("_hot"))
        )
        c_side = (
            grams.join(hot, "g", "left")
            .withColumn(
                "salt",
                F.when(
                    F.col("_hot"), F.pmod(F.hash("doc_id"), F.lit(n_salts))
                ).otherwise(F.lit(0)),
            )
            .drop("_hot")
        )
        n_side = (
            newg.join(hot, "g", "left")
            .withColumn(
                "salt",
                F.explode(
                    F.when(
                        F.col("_hot"),
                        F.sequence(F.lit(0), F.lit(n_salts - 1)),
                    ).otherwise(F.array(F.lit(0)))
                ),
            )
            .drop("_hot")
        )
        common = (
            n_side.alias("n")
            .join(
                c_side.alias("c"),
                (F.col("n.g") == F.col("c.g"))
                & (F.col("n.salt") == F.col("c.salt"))
                & (F.col("n.doc_id") != F.col("c.doc_id")),
            )
            .groupBy(
                F.col("n.doc_id").alias("new_id"),
                F.col("c.doc_id").alias("match_id"),
                # constant per new_id — grouping by it changes nothing
                F.col("n.sz1").alias("sz1"),
            )
            .agg(F.count(F.lit(1)).alias("c"))
        )
    s2 = sizes.select(F.col("doc_id").alias("match_id"), F.col("sz").alias("sz2"))
    jac = F.col("c").cast("double") / (F.col("sz1") + F.col("sz2") - F.col("c"))
    return (
        common.join(s2, "match_id")
        .select("new_id", "match_id", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_T)
    )


@register(
    "dedup_cluster_sizes",
    oracle=f"""
        WITH labels AS ({CLUSTER_KEEP_SQL}),
        per_cluster AS (
            SELECT cluster_rep, CAST(COUNT(*) AS BIGINT) AS cluster_size
            FROM labels GROUP BY cluster_rep
        )
        SELECT cluster_size,
               CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
               CAST(SUM(cluster_size - 1) AS BIGINT) AS n_droppable
        FROM per_cluster GROUP BY cluster_size
    """,
    tags=("dedup", "iterative", "agg"),
)
def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size HISTOGRAM — the dataset-card view of the
    clustering (round 7): per cluster size, how many components exist,
    how many documents they hold, and how many a keep-one policy drops.
    This is the number a dedup report actually publishes ("0.8% of the
    corpus sits in 214 duplicate clusters, largest of size 9") and the
    early-warning for pathological clustering (one giant component =
    a threshold or boilerplate problem).

    Plan: the connected-components labels (min-label propagation,
    dedup_cluster_keep's loop) roll up twice — cluster_rep then
    cluster_size — both map-side-combinable aggregates over the
    label frame; output is histogram-sized. The oracle re-derives the
    fixpoint via the recursive CTE and the same double rollup."""
    labels = dedup_cluster_keep(spark, sf_dir)
    per_cluster = labels.groupBy("cluster_rep").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return per_cluster.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("cluster_size").alias("n_docs"),
        F.sum(F.col("cluster_size") - 1).alias("n_droppable"),
    )


# ---------------------------------------------------------------------------
# Incremental near-dup detection through a PERSISTED LSH band index
# (round 9) — the second ingest-shaped dedup path, complementing
# dedup_incremental's inverted gram index with the sub-linear one: the
# corpus side is a bucketed (band-key -> doc) table plus a shingle-set
# table, both built once per corpus content and APPENDED per admitted
# batch, so a warm ingest cycle signs only the batch and probes band
# buckets — candidate volume tracks bucket collisions, not gram document
# frequency.  At 100 TB this is the path that wins when common grams are
# hot (the inverted index pays per posting; the band index pays per
# true-ish collision).
#
# Same batch slice, same output contract, and the SAME oracle as
# dedup_incremental (the ground-truth batch-restricted near-dup
# relation): equality holds by the banding argument from
# dedup_minhash_lsh (every true pair in this corpus sits at J >= 0.9,
# missed with probability <= 4e-8), and a unit test additionally pins
# result-relation equality against dedup_incremental at test scale.
#
# Registered read query that materializes storage on first run — the
# corpus_version_diff / dedup_incremental precedent.
#
# Scaling rule (r12, VERDICT r11 #5 — the knob the IVF codebook's K rule
# is to that family): band count and rows-per-band do NOT scale with
# corpus size.  A band key is LSH_ROWS=4 concatenated 64-bit minhash
# values (~256 bits of key space), so RANDOM cross-pair collisions are
# ~2^-256-vanishing at any realistic corpus size — candidate volume is
# collision-bound: expected candidates per batch doc =
# LSH_BANDS * sum over its truly-similar corpus docs of J^LSH_ROWS,
# which depends on near-dup DENSITY, not corpus size.  At constant
# density the probe cost is linear in |batch| (and the index append
# linear in |batch|), so the 10x probe's per-replica slope should be
# flat — measured at TWO replication points in bench_scale_probe
# (SCALE_SECOND_POINT) and pinned structurally by
# test_lsh_candidate_volume_linear.  The deployment knobs remain the
# standard S-curve pair: LSH_ROWS sets the similarity threshold
# (~(1/b)^(1/r)); LSH_BANDS buys recall linearly in probe cost.  Neither
# needs a corpus-size rule because neither cost term grows with n.
# ---------------------------------------------------------------------------


# oracle: the identical ground-truth restricted relation the gram-index
# path is gated by (see dedup_incr.dedup_incremental's registration) —
# re-stated here so the two modules stay import-independent
_INCR_ORACLE_SQL = f"""
    WITH sh AS (
        SELECT doc_id,
               {H.sql_shingle_hashes(H.sql_word_hashes(H.sql_tokens('text')))}
                   AS grams
        FROM documents
    ),
    grams AS (
        SELECT doc_id, unnest(grams) AS g FROM sh WHERE len(grams) > 0
    ),
    sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
        FROM grams GROUP BY doc_id
    ),
    newg AS (SELECT * FROM grams WHERE {_INC_PRED_SQL}),
    common AS (
        SELECT n.doc_id AS new_id, c.doc_id AS match_id,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM newg n JOIN grams c ON n.g = c.g AND n.doc_id <> c.doc_id
        GROUP BY n.doc_id, c.doc_id
    )
    SELECT new_id, match_id,
           CAST(c AS DOUBLE) / (s1.sz + s2.sz - c) AS jaccard
    FROM common
    JOIN sizes s1 ON common.new_id = s1.doc_id
    JOIN sizes s2 ON common.match_id = s2.doc_id
    WHERE CAST(c AS DOUBLE) / (s1.sz + s2.sz - c) >= {JACCARD_T}
"""


def _band_frame(sh: DataFrame) -> DataFrame:
    """(doc_id, bkey) LSH band keys from a (doc_id, grams) shingle
    frame — the dedup_minhash_lsh signature pipeline verbatim, with the
    (band, key) pair folded into ONE string column so the persisted
    index buckets (and the probe join co-locates) on a single key."""
    ex = sh.select("doc_id", F.explode("grams").alias("h"))
    sig = ex.groupBy("doc_id").agg(
        *[
            F.min(H.minhash_term(F.col("h"), j)).alias(f"s{j}")
            for j in range(LSH_BANDS * LSH_ROWS)
        ]
    )
    band_arr = F.array(
        *[
            F.concat_ws(
                ",",
                F.lit(b),
                *[F.col(f"s{b * LSH_ROWS + r}") for r in range(LSH_ROWS)],
            )
            for b in range(LSH_BANDS)
        ]
    )
    return sig.select("doc_id", F.explode(band_arr).alias("bkey"))


def _lsh_index_names(fp: str) -> tuple[str, str]:
    return f"lsh_band_{fp}", f"lsh_set_{fp}"


def lsh_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The persisted LSH index: lsh_band_<fp> (doc_id, bkey) bucketed by
    bkey, and lsh_set_<fp> (doc_id, grams) bucketed by doc_id for the
    exact-Jaccard verify.  Built once per corpus content; appended per
    admitted batch by append_batch_to_lsh_index."""
    fp = _corpus_fingerprint(sf_dir)
    band_name, set_name = _lsh_index_names(fp)
    if not spark.catalog.tableExists(band_name):
        from bigbugdata_spark.sources.bucketed import write_bucketed

        ensure_index_root()
        sweep_stale_generations(spark, ("lsh_band_", "lsh_set_"), fp)
        if attach_index_tables(
            spark,
            (
                (band_name, "doc_id BIGINT, bkey STRING", "bkey"),
                (set_name, "doc_id BIGINT, grams ARRAY<BIGINT>", "doc_id"),
            ),
        ):
            return spark.table(band_name), spark.table(set_name)
        remove_incomplete_locations(_lsh_index_names(fp))
        sh = pin(_doc_shingles(spark, sf_dir))
        write_bucketed(
            _band_frame(sh), band_name, "bkey", n_buckets=INDEX_BUCKETS,
            path=index_path(band_name),
        )
        write_bucketed(
            sh, set_name, "doc_id", n_buckets=INDEX_BUCKETS,
            path=index_path(set_name),
        )
        sh.unpersist(blocking=False)
    return spark.table(band_name), spark.table(set_name)


def append_batch_to_lsh_index(
    spark: SparkSession, batch_sh: DataFrame, fp: str
) -> None:
    """Maintenance: an admitted batch's band keys and shingle sets
    APPEND into the same bucket layouts (append==rebuild proven by
    test). `batch_sh` is (doc_id, grams) for the batch only."""
    band_name, set_name = _lsh_index_names(fp)
    batch_sh = pin(batch_sh)
    # crash-consistency window (r17): band rows landing without their
    # shingle sets would drop verified pairs on a later adoption —
    # the intent sentinel turns that torn state into a cold rebuild
    intent = begin_append_intent((band_name, set_name))
    append_bucketed(_band_frame(batch_sh), band_name, "bkey")
    append_bucketed(batch_sh, set_name, "doc_id")
    commit_append_intent(intent)
    batch_sh.unpersist(blocking=False)


@register(
    "dedup_incremental_lsh",
    oracle=_INCR_ORACLE_SQL,
    tags=("dedup", "join"),
    index_writer=True,
)
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(new_id, match_id, jaccard) for the deterministic ~10% batch
    slice against the whole corpus, through the persisted band index:
    batch shingles -> batch signatures -> band-bucket probe (one
    equi-join on the bucketed bkey) -> exact-Jaccard verify against
    the shingle-set table.  Corpus text is never re-shingled on a
    warm run (plan test)."""
    bands_idx, sets = lsh_index(spark, sf_dir)
    batch_sh = pin(
        _doc_shingles(spark, sf_dir).filter(_incoming_col())
    )
    cand = (
        _band_frame(batch_sh)
        .alias("n")
        .join(bands_idx.alias("c"), "bkey")
        .where(F.col("n.doc_id") != F.col("c.doc_id"))
        .select(
            F.col("n.doc_id").alias("new_id"),
            F.col("c.doc_id").alias("match_id"),
        )
        .distinct()
    )
    g1 = batch_sh.select(
        F.col("doc_id").alias("new_id"), F.col("grams").alias("g1")
    )
    g2 = sets.select(
        F.col("doc_id").alias("match_id"), F.col("grams").alias("g2")
    )
    jac = F.size(F.array_intersect("g1", "g2")).cast("double") / F.size(
        F.array_union("g1", "g2")
    )
    return (
        cand.join(g1, "new_id")
        .join(g2, "match_id")
        .select("new_id", "match_id", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_T)
    )

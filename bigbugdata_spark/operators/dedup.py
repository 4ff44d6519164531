"""Deduplication over `documents` / `embeddings`: exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup and cluster keep,
plus the near-dup threshold curve and cross-source duplication roll-up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from bigbugdata_spark.caching import pin
from bigbugdata_spark.catalog import table
from bigbugdata_spark.functions import hashing as H
from bigbugdata_spark.functions.fragments import (
    CLUSTER_KEEP_SQL,
    COSINE_T,
    EMB_DIM,
    EMB_LSH_BITS,
    EMB_LSH_PLANES,
    EMB_LSH_TABLES,
    JACCARD_PAIRS_SQL,
    JACCARD_T,
)
from bigbugdata_spark.registry import register


# ---------------------------------------------------------------------------
# Deduplication operators — exact, MinHash+LSH, SimHash, n-gram Jaccard,
# and embedding-cosine near-dup over `documents` / `embeddings` (the
# LLM-pipeline dedup family, SURVEY.md §7 phase 3; the reference's only
# dedup is the dict last-wins merge mapped as op 20).
#
# Scale design (the 100 TB contract):
# * NOTHING here is an all-pairs crossJoin over the corpus. Near-dup
#   candidate generation is always a BUCKETED equi-join — LSH band keys
#   (MinHash), 4-bit blocks (SimHash), shared shingles (inverted index),
#   hyperplane buckets (embeddings) — i.e. a shuffle on a key, which is the
#   join Spark scales horizontally.
# * The only quadratic step is per-bucket pair expansion; bucket width is
#   the tuning knob (bands x rows, block bits, gram document frequency) and
#   skewed buckets are the known hazard. Both skew valves are implemented:
#   `dedup_ngram_jaccard(max_gram_df=...)` drops ultra-frequent shingles
#   before the inverted-index join (the stop-gram cap), and every
#   LSH-bucketed query takes `max_bucket_width=...` to drop degenerate
#   mega-buckets before pair expansion. Defaults are None so the
#   registered oracle-checked queries stay exact.
# * `dedup_emb_cosine` alone is the documented brute-force BASELINE
#   (correctness anchor per the north star: "brute-force cosine as the
#   baseline; LSH-bucketed variant as the scale path" — the scale path is
#   `dedup_emb_lsh`).
# * Measured scaling (r3, local[32], sf0.1 documents replicated 10x to
#   50k docs with ~250k true near-dup pairs): `dedup_minhash_lsh` 4.9s ->
#   3.8s (sublinear — the extra data amortizes fixed costs across cores)
#   while `dedup_ngram_jaccard` 2.6s -> 44.9s (the exact inverted-index
#   join grows with gram-DF^2 when duplicates multiply document
#   frequency). That is the quantitative case for MinHash as the 100 TB
#   path with the exact join as the per-bucket/verification-scale tool.
#
# Correctness: MinHash/SimHash signatures use functions/hashing.py, which
# computes bit-identical values in DuckDB — so even the probabilistic
# operators get EXACT oracle twins. For `dedup_minhash_lsh` the oracle is
# the ground-truth all-pairs Jaccard: with 16 bands x 4 rows, a pair at the
# J=0.9 level of this corpus is missed with probability (1-0.9^4)^16 ~ 4e-8,
# and the comparison is deterministic (fixed seeds, fixed data), so
# oracle equality holds identically across runs.
# ---------------------------------------------------------------------------


SIMHASH_D = 3  # max hamming distance; 8 x 4-bit blocks are exact for d <= 7
LSH_BANDS, LSH_ROWS = 16, 4  # 64 minhash components


# ---------------------------------------------------------------------------
# shared sub-plans + oracle fragments
# ---------------------------------------------------------------------------


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, grams): distinct word-3-gram hashes per document.

    The empty-gram guard runs BEFORE the projection, on the cheap token
    count: grams is non-empty iff the document has >= 3 tokens
    (shingle_hashes returns [] below n, and a sequence of >= 1 gram
    positions is never empty after array_distinct). Filtering on
    size(grams) AFTER the select let Catalyst push
    `size(<shingle expr>) > 0 AND isnotnull(<shingle expr>)` below the
    Project, evaluating the whole tokenize+hash+shingle tree three times
    per document (measured 0.45 -> 0.72 s at sf0.1 for the bare frame —
    at 100 TB that is two full redundant corpus passes in every cold
    build of this family)."""
    return (
        table(spark, sf_dir, "documents")
        .filter(F.size(H.tokens(F.col("text"))) >= 3)
        .select(
            "doc_id",
            H.shingle_hashes(H.word_hashes(H.tokens(F.col("text")))).alias("grams"),
        )
    )


def _bucket_pairs(
    keyed: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    max_bucket_width: int | None = None,
) -> DataFrame:
    """(d1, d2) candidate pairs from bucket membership: groupBy bucket ->
    sorted member set -> per-bucket pair expansion -> distinct.

    This computes the (expensive) bucket-key lineage ONCE — a self-join of
    `keyed` with itself would evaluate the whole signature subtree twice.
    The per-bucket expansion is the only quadratic step; bucket width is
    the LSH tuning knob and skewed buckets the documented hazard.

    `max_bucket_width` is the MEGA-BUCKET GUARD, the `_bucket_pairs` twin
    of dedup_ngram_jaccard's stop-gram cap: a degenerate bucket holding m
    members (near-constant simhash blocks, a hyperplane table where the
    corpus is one-sided, a hash collision storm) expands to m^2/2 pairs
    AND collects an m-element array in one task. Buckets wider than the
    threshold are dropped wholesale — standard LSH practice (a bucket
    that dense carries no discriminative signal; true near-dup pairs in
    it almost surely co-occur in another, selective, bucket/band). The
    default (None) applies no guard: at oracle scales every bucket is
    narrow, and the registered queries stay exactly oracle-matched."""
    buckets = (
        keyed.groupBy(*bucket_cols)
        .agg(F.sort_array(F.collect_set(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_width is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_width)
    n = F.size(F.col("ids"))
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.sequence(i + F.lit(1), n),
                lambda j: F.struct(
                    F.element_at(F.col("ids"), i).alias("d1"),
                    F.element_at(F.col("ids"), j).alias("d2"),
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.d1").alias("d1"), F.col("p.d2").alias("d2"))
        .distinct()
    )


@register(
    "dedup_cluster_keep_lsh",
    oracle=CLUSTER_KEEP_SQL,
    tags=("dedup", "iterative", "headline"),
)
def dedup_cluster_keep_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering over the MINHASH-LSH pair source — the
    registered scale-safe default for a duplication-heavy corpus.

    `dedup_cluster_keep`'s default edge source is the exact inverted-
    index join, whose cost grows with gram-DF^2 as duplicates multiply
    document frequency (measured in the module docstring: 2.6s -> 44.9s
    under 10x duplication, while the LSH path went 4.9s -> 3.8s). This
    variant feeds the connected-components keep/drop step from
    `dedup_minhash_lsh` candidates instead: same oracle (pair sets are
    identical on this corpus — banding miss probability <= 4e-8 at its
    J >= 0.9 level, asserted by tests/test_extensions.py), sublinear
    candidate generation. At 100 TB this is the query to run."""
    return dedup_cluster_keep(
        spark, sf_dir, pairs=dedup_minhash_lsh(spark, sf_dir)
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
        SELECT sha256(text) AS content_sha,
               CAST(MIN(doc_id) AS BIGINT) AS keep_id,
               CAST(COUNT(*) AS BIGINT) AS n_copies
        FROM documents GROUP BY sha256(text)
    """,
    tags=("dedup", "agg", "headline"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: hash-groupBy on sha256(text), keep the lowest
    doc_id per content group. One shuffle on the 64-hex key; at 100 TB the
    map-side partial agg collapses each partition's duplicates before the
    exchange, so shuffle volume ~ distinct contents, not corpus size."""
    return (
        table(spark, sf_dir, "documents")
        .groupBy(F.sha2(F.col("text"), 256).alias("content_sha"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (inverted index — the exact bucketed formulation)
# ---------------------------------------------------------------------------


@register(
    "dedup_ngram_jaccard",
    oracle=JACCARD_PAIRS_SQL,
    tags=("dedup", "join", "headline"),
)
def dedup_ngram_jaccard(
    spark: SparkSession, sf_dir: str, max_gram_df: int | None = None
) -> DataFrame:
    """Exact pairwise word-3-gram Jaccard >= 0.5 via an INVERTED INDEX:
    explode shingles -> self-equi-join on the shingle -> count common per
    pair -> |A u B| = |A| + |B| - common. No crossJoin anywhere; the only
    shuffles are the equi-join on the shingle hash and the (d1,d2) agg.

    `max_gram_df` is the STOP-GRAM CAP, the skew valve for 100 TB: an
    ultra-frequent shingle (boilerplate shared by m documents) expands to
    m^2/2 pairs in the self-join — one hot gram in a million docs is a
    5e11-row skew key. With the cap, grams whose document frequency
    exceeds the threshold are dropped from BOTH join sides before the
    join (one extra hash-agg on the gram key + a broadcast-able semi
    filter), bounding every gram's pair expansion at max_gram_df^2/2,
    exactly like a search engine drops stopwords. Capped grams still
    count toward |A| and |B| (sizes are computed pre-cap), so reported
    Jaccard is an underestimate for affected pairs — the conservative
    direction for dedup (never merges documents the exact measure would
    not). The default (None) applies no cap and is exact; this corpus
    has no hot grams, so the registered query is cap-free and
    oracle-identical. `tests/test_extensions.py` proves the bound on a
    synthetic hot-gram corpus."""
    # pin: the exploded gram frame feeds three branches (sizes + both
    # join sides) — without it the tokenize/hash lineage runs three times
    sh = _doc_shingles(spark, sf_dir)
    grams = pin(sh.select("doc_id", F.explode("grams").alias("g")))
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    joinable = grams
    if max_gram_df is not None:
        keep = (
            grams.groupBy("g")
            .agg(F.count(F.lit(1)).alias("gram_df"))
            .filter(F.col("gram_df") <= max_gram_df)
            .select("g")
        )
        joinable = grams.join(keep, "g")
    # shuffle_hash (r17, guide §3.1): the inverted-index self-join's SMJ
    # sort order is useless downstream (the very next operator regroups
    # by (d1, d2)), so the two sorts of the exploded gram frame are pure
    # overhead — the hash build skips them (measured 2.00 -> 1.43 s min
    # at sf0.1, result symdiff 0). Build-side memory is bounded per
    # partition: shuffle partitions are sized scale-adaptively (AQE),
    # and the stop-gram cap is the valve for degenerate gram skew; flip
    # back to SMJ by dropping the hint if a deployment's partitions
    # outgrow executor memory.
    a, b = joinable.hint("shuffle_hash").alias("a"), joinable.alias("b")
    common = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("sz").alias("sz2"))
    jac = F.col("c").cast("double") / (F.col("sz1") + F.col("sz2") - F.col("c"))
    return (
        common.join(s1, "d1")
        .join(s2, "d2")
        .select("d1", "d2", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_T)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH band bucketing
# ---------------------------------------------------------------------------


@register(
    "dedup_minhash_lsh",
    oracle=JACCARD_PAIRS_SQL,
    tags=("dedup", "join", "headline"),
)
def dedup_minhash_lsh(
    spark: SparkSession, sf_dir: str, max_bucket_width: int | None = None
) -> DataFrame:
    """Near-dup pairs via MinHash signatures + LSH band bucketing:
    shingle-hash -> 64-component MinHash -> 16 bands x 4 rows -> bucket
    equi-join on (band, key) -> exact-Jaccard verification of candidates.

    The oracle is ground truth (all-pairs Jaccard >= 0.5, computed exactly
    in DuckDB via the inverted index): equality holds because every true
    pair in this corpus sits at J >= 0.9 where the 16x4 banding misses
    with probability (1-J^4)^16 <= 4e-8 — and the whole computation is
    deterministic (seeded permutations), so the result is stable, not a
    per-run gamble. Scale: candidate generation is a shuffle on band keys
    (65-bit-ish strings), verification touches only candidate pairs;
    corpus-size crossJoin never happens.
    """
    # pin: shingle sets feed the band path and both verify sides
    sh = pin(_doc_shingles(spark, sf_dir))
    # signature as 64 MIN-aggregates over exploded shingles: materialized
    # behind the Aggregate, computed exactly once (see H.minhash_term)
    ex = sh.select("doc_id", F.explode("grams").alias("h"))
    sig = ex.groupBy("doc_id").agg(
        *[F.min(H.minhash_term(F.col("h"), j)).alias(f"s{j}") for j in range(LSH_BANDS * LSH_ROWS)]
    )
    # band key as ONE xxhash64 long (r17, guide §2.3 narrower types): the
    # previous concat_ws(",") string ran 20-40 bytes through the bucket
    # exchange per (doc, band) row; the 8-byte hash is result-safe HERE
    # (not in dedup_emb_lsh, whose oracle re-derives the bucketing): a
    # hash collision can only MERGE buckets, i.e. add candidate pairs,
    # and every candidate is exact-Jaccard verified against the
    # ground-truth oracle's own threshold — extra candidates either pass
    # (true pairs the oracle already contains) or are filtered.
    band_arr = F.array(
        *[
            F.xxhash64(*[F.col(f"s{b * LSH_ROWS + r}") for r in range(LSH_ROWS)])
            for b in range(LSH_BANDS)
        ]
    )
    bands = sig.select("doc_id", F.posexplode(band_arr).alias("band", "key"))
    cand = _bucket_pairs(bands, ["band", "key"], "doc_id", max_bucket_width)
    g1 = sh.select(F.col("doc_id").alias("d1"), F.col("grams").alias("g1"))
    g2 = sh.select(F.col("doc_id").alias("d2"), F.col("grams").alias("g2"))
    jac = F.size(F.array_intersect("g1", "g2")).cast("double") / F.size(
        F.array_union("g1", "g2")
    )
    return (
        cand.join(g1, "d1")
        .join(g2, "d2")
        .select("d1", "d2", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_T)
    )


# ---------------------------------------------------------------------------
# SimHash + block bucketing
# ---------------------------------------------------------------------------

_SIMHASH_SQL = H.sql_simhash32(H.sql_word_hashes(H.sql_tokens("text")))


@register(
    "dedup_simhash",
    oracle=f"""
        WITH s AS (SELECT doc_id, {_SIMHASH_SQL} AS sim FROM documents)
        SELECT a.doc_id AS d1, b.doc_id AS d2,
               CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sim, b.sim)) <= {SIMHASH_D}
    """,
    tags=("dedup", "join"),
)
def dedup_simhash(
    spark: SparkSession, sf_dir: str, max_bucket_width: int | None = None
) -> DataFrame:
    """SimHash near-dup: 32-bit weighted-bit fingerprints, candidate pairs
    from 8 x 4-bit block buckets, verified at hamming <= 3.

    Block bucketing is EXACT here, not probabilistic: two fingerprints
    within hamming d <= 7 must agree on at least one of 8 disjoint blocks
    (pigeonhole), so every qualifying pair is found — which is why the
    all-pairs DuckDB oracle matches identically. At scale: 64-bit simhash
    with 8-bit blocks gives 1/256-selective buckets; the shuffle key is
    the (block, value) pair and the quadratic step is per-bucket only."""
    docs = table(spark, sf_dir, "documents")
    # bit votes as 32 SUM-aggregates over exploded word hashes (multiset
    # semantics preserved); the simhash assembles from materialized
    # post-Aggregate columns — computed once per doc
    ex = docs.select(
        "doc_id", F.explode(H.word_hashes(H.tokens(F.col("text")))).alias("h")
    ).select("doc_id", H.spread32(F.col("h")).alias("h32"))
    votes = ex.groupBy("doc_id").agg(
        *[F.sum(H.simhash_vote(F.col("h32"), j)).alias(f"b{j}") for j in range(32)]
    )
    sim_expr = None
    for j in range(32):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sim_expr = term if sim_expr is None else sim_expr + term
    s = votes.select("doc_id", sim_expr.alias("sim"))
    blocks = s.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    ((F.col("sim") / F.lit(1 << (4 * b))).cast("long") % 16)
                    for b in range(8)
                ]
            )
        ).alias("blk", "val"),
    )
    cand = _bucket_pairs(blocks, ["blk", "val"], "doc_id", max_bucket_width)
    s1 = s.select(F.col("doc_id").alias("d1"), F.col("sim").alias("sim1"))
    s2 = s.select(F.col("doc_id").alias("d2"), F.col("sim").alias("sim2"))
    ham = F.bit_count(F.col("sim1").bitwiseXOR(F.col("sim2")))
    return (
        cand.join(s1, "d1")
        .join(s2, "d2")
        .filter(ham <= SIMHASH_D)
        .select("d1", "d2", ham.cast("int").alias("hamming"))
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup: brute-force baseline + LSH scale path
# ---------------------------------------------------------------------------

_COS_SQL = (
    f"{H.sql_dot('a.embedding', 'b.embedding', EMB_DIM)}"
    f" / ({H.sql_norm('a.embedding', EMB_DIM)} * {H.sql_norm('b.embedding', EMB_DIM)})"
)


@register(
    "dedup_emb_cosine",
    oracle=f"""
        SELECT a.vec_id AS v1, b.vec_id AS v2, {_COS_SQL} AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE {_COS_SQL} >= {COSINE_T}
    """,
    tags=("dedup", "join"),
)
def dedup_emb_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs, BRUTE-FORCE BASELINE: all-pairs cosine
    >= 0.4. This is the correctness anchor (exact oracle, left-to-right
    double summation identical to DuckDB's list_reduce) — NOT the scale
    path; `dedup_emb_lsh` is the bucketed variant for 100 TB. O(n^2) is
    intrinsic to the exact-threshold semantics without structure."""
    e = table(spark, sf_dir, "embeddings")
    # norms computed once per side (n rows), not once per pair (n^2)
    a = e.select(
        F.col("vec_id").alias("v1"),
        F.col("embedding").alias("e1"),
        H.norm(F.col("embedding")).alias("n1"),
    )
    b = e.select(
        F.col("vec_id").alias("v2"),
        F.col("embedding").alias("e2"),
        H.norm(F.col("embedding")).alias("n2"),
    )
    cos = H.dot(F.col("e1"), F.col("e2")) / (F.col("n1") * F.col("n2"))
    return (
        a.join(b, F.col("v1") < F.col("v2"))
        .select("v1", "v2", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= COSINE_T)
    )


@register(
    "dedup_cluster_keep",
    oracle=CLUSTER_KEEP_SQL,
    tags=("dedup", "iterative"),
)
def dedup_cluster_keep(
    spark: SparkSession, sf_dir: str, pairs: DataFrame | None = None
) -> DataFrame:
    """Near-dup CLUSTERING — pairs to keep/drop decisions, the step an
    actual dedup pipeline needs after candidate generation: connected
    components over the verified near-dup pair graph, keep = the minimum
    doc_id per component.

    `pairs` selects the edge source: default None uses the exact
    inverted-index Jaccard join (matching the recursive-CTE oracle); at
    100 TB pass `dedup_minhash_lsh(spark, sf_dir)` instead — the LSH
    path scales sublinearly where the exact join grows with gram-DF^2
    (measured numbers in the module docstring), and on this corpus the
    two pair sets are provably identical (tests assert it, banding miss
    probability <= 4e-8 at the corpus' J >= 0.9 level).

    Iterative min-label propagation (the scalable CC algorithm: each
    round, every node adopts the smallest label among itself and its
    neighbors; converges in O(component diameter) rounds — near-dup
    components are tiny cliques, so 2-3 rounds). The loop is
    driver-CONTROLLED but executor-EXECUTED: each round is one bucketed
    join + agg, localCheckpoint cuts the lineage so plans stay flat. The
    oracle computes the same fixpoint as a DuckDB recursive CTE
    (transitive closure -> min reachable id).

    r17 restructure (guide §1.2 step 1 — don't compute what can't
    change): the fixpoint iterates over the EDGE-TOUCHED nodes only. A
    document outside every near-dup pair can never receive a neighbor
    label and keeps cluster_rep = doc_id by construction, so carrying
    the whole corpus through every round's join + checkpoint (the old
    shape: O(corpus) rows checkpointed per round) did per-round work
    proportional to the corpus instead of to the pair graph. Non-edge
    documents are restored by ONE left join against the converged node
    labels at the end. The per-round changed-count also folds into the
    label join itself (a _chg flag on the checkpointed frame) instead of
    a separate new-vs-old join per round. Fixpoint and output are
    identical: edges only reference edge nodes, so the restriction is
    exact.

    r18 (guide §3.1 — VERDICT r17 #4, the one confirmed regression of
    r17): the restore join is hinted BROADCAST. The converged labels
    are a localCheckpointed RDD with no stats, so the planner fell back
    to a SortMergeJoin that shuffled AND sorted the whole corpus'
    doc_id column just to re-attach the pair-graph-bounded label table
    (plans/r17/dedup_cluster_keep_lsh_after.txt: 2 Exchange + SMJ; the
    r16->r17 bench read 0.028 -> 0.12 s on exactly this tail). Labels
    are edge-touched nodes only — near-dup-pair-bounded, the side
    pipe_training_corpus already broadcasts by the same 100 TB
    argument — so the restore is now scan -> BroadcastHashJoin ->
    project with zero exchanges."""
    if pairs is None:
        pairs = dedup_ngram_jaccard(spark, sf_dir)
    labels = cc_node_labels(pairs)
    return (
        table(spark, sf_dir, "documents")
        .select("doc_id")
        .join(F.broadcast(labels), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_rep"), F.col("doc_id")).alias("cluster_rep"),
        )
        .select(
            "doc_id",
            "cluster_rep",
            (F.col("doc_id") == F.col("cluster_rep")).cast("int").alias("keep"),
        )
    )


def cc_node_labels(pairs: DataFrame) -> DataFrame:
    """(doc_id, cluster_rep) for every EDGE-TOUCHED node: the min-label
    fixpoint of dedup_cluster_keep, restricted to the pair graph (see
    its docstring). Consumers that only need the DROP set (members whose
    component has a smaller id — cluster_rep < doc_id) can filter this
    frame directly without a corpus join: every non-edge document keeps
    itself by construction."""
    pairs = pairs.select("d1", "d2")
    edges = pairs.select(F.col("d1").alias("a"), F.col("d2").alias("b")).unionByName(
        pairs.select(F.col("d2").alias("a"), F.col("d1").alias("b"))
    ).localCheckpoint()
    # r18 (guide §1.2 step 1): the label init and propagation round 1
    # fuse into ONE aggregation. Round 1 of min-label propagation sets
    # every node's label to min(self, min(neighbors)) over the INITIAL
    # labels (= ids), which is exactly least(a, min(b)) per edge node —
    # so the separate distinct() (an exchange + checkpoint) and the
    # first join-propagate-checkpoint-count round both disappear. The
    # x10 A/B (plans/r18/cc_x10_ab.json) showed those two fixed jobs
    # cost more than the edge-restriction saved at every measurable
    # scale; fusing removes them without giving up the O(pair graph)
    # per-round bound.
    labels = (
        edges.groupBy("a")
        .agg(F.min("b").alias("_nb"))
        .select(
            F.col("a").alias("doc_id"),
            F.least(F.col("a"), F.col("_nb")).alias("cluster_rep"),
        )
        .localCheckpoint()
    )
    while True:
        neighbor_min = (
            labels.join(edges, labels.doc_id == edges.a)
            .select(F.col("b").alias("doc_id"), F.col("cluster_rep").alias("_nl"))
            .groupBy("doc_id")
            .agg(F.min("_nl").alias("_nl"))
        )
        new_rep = F.least(
            F.col("cluster_rep"), F.coalesce(F.col("_nl"), F.col("cluster_rep"))
        )
        new_labels = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                new_rep.alias("cluster_rep"),
                (new_rep < F.col("cluster_rep")).alias("_chg"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter(F.col("_chg")).count()
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    return labels


def _hyperplane_bits(emb) -> "F.Column":
    """All 64 hyperplane sign bits as one array: transform over the
    literal plane matrix with a zip_with dot per plane. Consumers must
    place this behind an exchange (repartition) so CollapseProject cannot
    inline the 64-dot expression into each of the 16 table-key
    expressions (a 16x recompute + codegen blowup otherwise)."""
    planes = F.array(*[F.array(*[F.lit(v) for v in p]) for p in EMB_LSH_PLANES])
    return F.transform(planes, lambda p: (H.dot(emb, p) > 0).cast("int"))


# Rows-only by design (bucket composition is engine-specific): verified
# through its oracle'd twin audit_emb_lsh_recall.
@register("dedup_emb_lsh", tags=("dedup", "join"))
def dedup_emb_lsh(
    spark: SparkSession, sf_dir: str, max_bucket_width: int | None = None
) -> DataFrame:
    """Embedding near-dup, LSH-BUCKETED scale path: 64 fixed Rademacher
    hyperplanes -> sign bits -> 16 hash tables x 4 bits -> bucket
    equi-join -> exact cosine verification at >= 0.4.

    Rows-only check by design: hyperplane LSH recall < 1 (the test suite
    measures it against `dedup_emb_cosine`; candidates are verified, so
    precision is exactly 1 — output is a SUBSET of the exact answer).
    Driver-hash-verified through the oracle'd audit twin
    `audit_emb_lsh_recall` (operators/audits.py), whose DuckDB side
    re-derives this whole bucketing from the same seeded planes.
    This corpus' 0.4 threshold is adversarially loose for LSH (true
    near-dup work at cos >= 0.9 would use 16-bit tables with miss rate
    <1e-3); 4-bit tables trade selectivity for recall at 0.4. Scale: the
    shuffle key is the (table, 4-bit key) pair; no crossJoin."""
    e = table(spark, sf_dir, "embeddings")
    # exchange barrier: bits are computed once before the repartition;
    # the 16 table keys then read the materialized array
    bits_df = e.select(
        "vec_id", _hyperplane_bits(F.col("embedding")).alias("bits")
    ).repartition("vec_id")
    table_keys = F.array(
        *[
            F.concat_ws(
                ",",
                *[
                    F.element_at(F.col("bits"), t * EMB_LSH_BITS + r + 1).cast(
                        "string"
                    )
                    for r in range(EMB_LSH_BITS)
                ],
            )
            for t in range(EMB_LSH_TABLES)
        ]
    )
    keyed = bits_df.select("vec_id", F.posexplode(table_keys).alias("tbl", "key"))
    cand = _bucket_pairs(keyed, ["tbl", "key"], "vec_id", max_bucket_width).select(
        F.col("d1").alias("v1"), F.col("d2").alias("v2")
    )
    e1 = e.select(F.col("vec_id").alias("v1"), F.col("embedding").alias("e1"))
    e2 = e.select(F.col("vec_id").alias("v2"), F.col("embedding").alias("e2"))
    cos = H.dot(F.col("e1"), F.col("e2")) / (
        H.norm(F.col("e1")) * H.norm(F.col("e2"))
    )
    return (
        cand.join(e1, "v1")
        .join(e2, "v2")
        .select("v1", "v2", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= COSINE_T)
    )


# ---------------------------------------------------------------------------
# Near-dup threshold sensitivity curve (round 9) — the dataset-card
# companion to the dedup family: how many verified near-dup pairs (and
# implicated documents) exist per Jaccard band above the operating
# threshold.  The table behind choosing JACCARD_T: a cliff between bands
# means the threshold is load-bearing; a flat curve means the corpus'
# duplication is insensitive to it.
#
# No analog in the reference (SURVEY §2.1); dedup governance extension
# surface over the same verified pair machinery as dedup_minhash_lsh.
#
# Scale posture: rides the banded-LSH pipeline verbatim (bucketed
# candidates + bounded exact verify, never all-pairs; equality to ground
# truth at this corpus' J >= 0.9 level, see dedup.py); the banding is
# tuned for the BASE threshold, and every band reported here sits ABOVE
# it, where banding recall only improves.  The curve aggregate runs on
# the pair frame (tiny relative to corpus) over a fixed band key space;
# bands are floor(j*10) integers so the bucketing is fp-safe (one
# multiply + floor of an exact ratio, identical in both engines).
# ---------------------------------------------------------------------------


@register(
    "dedup_threshold_curve",
    oracle=f"""
        WITH pairs AS ({JACCARD_PAIRS_SQL}),
        banded AS (
            SELECT CAST(FLOOR(jaccard * 10) AS BIGINT) AS band, d1, d2
            FROM pairs
        )
        SELECT band,
               CAST(band AS DOUBLE) / 10 AS j_lo,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(COUNT(DISTINCT d1) + COUNT(DISTINCT d2)
                    AS BIGINT) AS n_sides
        FROM banded GROUP BY band
    """,
    tags=("dedup", "agg"),
)
def dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per Jaccard band [band/10, band/10 + 0.1): verified pair count
    and the distinct-document count per pair side (d1/d2 are
    min/max-ordered by the pair pipeline, so the two sides are distinct
    populations and their sum is the honest implicated-slot count)."""
    pairs = dedup_minhash_lsh(spark, sf_dir)
    banded = pairs.select(
        F.floor(F.col("jaccard") * 10).cast("long").alias("band"),
        "d1",
        "d2",
    )
    return (
        banded.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            (F.countDistinct("d1") + F.countDistinct("d2"))
            .cast("long")
            .alias("n_sides"),
        )
        .select(
            "band",
            (F.col("band").cast("double") / 10).alias("j_lo"),
            "n_pairs",
            "n_sides",
        )
    )


# ---------------------------------------------------------------------------
# Cross-source duplication governance (round 8) — who is duplicating
# whom? Near-dup dedup answers "which documents"; corpus governance needs
# the roll-up: which SOURCE pairs share near-duplicate content (mirror
# sites, scraped re-posts, licensing overlap) and what fraction of each
# source's documents is implicated. The dataset-card table behind "drop
# src X, it is 40% a mirror of src Y".
#
# No analog in the reference (SURVEY §2.1); dedup/corpus-governance
# extension surface over operators/dedup.py's verified pair machinery.
#
# Scale posture: pair generation is dedup_minhash_lsh's banded-LSH
# pipeline verbatim (bucketed candidates + bounded exact verify — never
# all-pairs), with equality to ground truth at this corpus' J >= 0.9
# level (miss probability <= 4e-8, see dedup.py). The source roll-up
# joins the pair frame (|near-dup pairs|, tiny relative to corpus)
# against a two-column doc->source projection twice, then aggregates on a
# |sources|^2-bounded key space; the ORACLE side recomputes ground truth
# all-pairs, which only the test scale can afford — exactly the
# audit-twin asymmetry the repo uses everywhere.
# ---------------------------------------------------------------------------


@register(
    "dedup_cross_source",
    oracle=f"""
        WITH pairs AS ({JACCARD_PAIRS_SQL}),
        tagged AS (
            SELECT LEAST(sa.source, sb.source) AS src_a,
                   GREATEST(sa.source, sb.source) AS src_b
            FROM pairs
            JOIN documents sa ON pairs.d1 = sa.doc_id
            JOIN documents sb ON pairs.d2 = sb.doc_id
        )
        SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM tagged GROUP BY src_a, src_b
    """,
    tags=("dedup", "corpus", "join"),
)
def dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per unordered source pair: the number of verified near-dup
    document pairs between them (a src_a = src_b row is the source's
    INTERNAL duplication — the key equality already says so, no
    separate subtotal needed). Source pair keys are (LEAST, GREATEST)-
    normalized so direction never splits a pair across rows."""
    pairs = dedup_minhash_lsh(spark, sf_dir)
    src = table(spark, sf_dir, "documents").select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("d1"), F.col("source").alias("sa"))
    sb = src.select(F.col("doc_id").alias("d2"), F.col("source").alias("sb"))
    # The doc->source projection is one row per document, i.e.
    # corpus-sized — NOT broadcastable at the repo's 100 TB posture.
    # No hint: both joins key on doc ids, so AQE/the id-bucketed layout
    # picks shuffle-hash (or broadcast only when stats say the side is
    # genuinely small at the running scale).
    tagged = pairs.join(sa, "d1").join(sb, "d2")
    return (
        tagged.select(
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
        )
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "dedup_source_dup_rate",
    oracle=f"""
        WITH pairs AS ({JACCARD_PAIRS_SQL}),
        duped AS (
            SELECT DISTINCT doc_id FROM (
                SELECT d1 AS doc_id FROM pairs
                UNION ALL
                SELECT d2 AS doc_id FROM pairs
            )
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN duped.doc_id IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_duped,
               CAST(SUM(CASE WHEN duped.doc_id IS NOT NULL
                             THEN 1 ELSE 0 END) * 1000 AS DOUBLE)
                   / COUNT(*) AS duped_pm
        FROM documents LEFT JOIN duped USING (doc_id)
        GROUP BY source
    """,
    tags=("dedup", "corpus", "agg"),
)
def dedup_source_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source: total documents, documents implicated in at least one
    verified near-dup pair (either side), and the implicated share in
    permille. Sources with zero duplicates still get a row (left join
    from the corpus side)."""
    pairs = pin(dedup_minhash_lsh(spark, sf_dir))
    duped = (
        pairs.select(F.col("d1").alias("doc_id"))
        .unionAll(pairs.select(F.col("d2").alias("doc_id")))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    # The implicated-doc set is pair-bounded but NOT corpus-bounded: in
    # precisely the scenario this query exists for (a source that is 40%
    # a mirror) it approaches a large fraction of the corpus.  No
    # broadcast hint — the left join keys on doc_id and co-locates on
    # the id-bucketed layout; AQE downgrades to broadcast only when the
    # measured size allows.
    flagged = docs.join(duped, "doc_id", "left")
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.coalesce("is_dup", F.lit(0))).cast("long").alias("n_duped"),
        (
            (F.sum(F.coalesce("is_dup", F.lit(0))) * F.lit(1000)).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("duped_pm"),
    )

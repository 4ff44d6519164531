"""BPE merge TRAINING (round 9) — the iterative half the tokenizer
surface was missing: text_bpe_pair_stats reports the first round's
pair counts; this runs the actual trainer loop — BPE_STEPS rounds of
(count adjacent symbol pairs over the word vocabulary) -> (pick the
most frequent pair, deterministic tie-break) -> (apply the merge to
every word's symbol sequence) — and returns the learned merge list,
the artifact a tokenizer ships.

No analog in the reference (SURVEY §2.1); text/tokenizer extension
surface, the third driver-controlled/executor-executed iterative
operator next to emb_kmeans_assign and connected_components.

Merge-application semantics (defined, engine-portable): symbol
sequences live as \\x1f-delimited strings; applying merge (a, b) is
TWO passes of plain left-to-right non-overlapping string replace of
"\\x1fa\\x1fb\\x1f" with "\\x1fab\\x1f".  Pass 1 is greedy BPE except
that a replacement consumes the trailing delimiter, hiding an
occurrence that starts exactly there; those misses are always isolated
between replaced blocks, so pass 2 catches all of them — for a != b
the two passes provably equal the textbook greedy left-to-right merge
(the unit test pins equality against an independent Python greedy
implementation on the real corpus).  SELF-pairs (a == b) are excluded
from candidacy: on runs like "aaaa" replace-based application diverges
from greedy (stragglers separate), and character runs are repetition
pathology (text_repetition_stats' beat), not vocabulary.  Both engines
implement the identical procedure, so the oracle re-derives the whole
M-round loop unrolled in SQL and the hash compare gates every round's
choice AND application.

Scale posture: state per round is the word VOCABULARY (word, freq,
symbols) — Heaps'-law bounded, shrinking in symbol count as merges
apply; each round is one vocabulary-sized pair aggregate (map-side
combinable on a charset^2-bounded key space early, vocab-bounded
later) + one orderBy(...).limit(1) argmax (TakeOrderedAndProject — a
one-row driver collect per round, the kmeans pattern) + one map-only
merge application, localCheckpointed so plans stay flat.  The driver
holds M merge rows and nothing else.

The unrolled CTE chain is the named constant TRAIN_CTES that every BPE
oracle appends its own final SELECT to; text_bpe_compression (here) and
text_bpe_tokenize (operators/text_bpe_apply.py) run the same trainer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigbugdata_spark.catalog import table
from bigbugdata_spark.registry import register

BPE_STEPS = 6
SEP = "\x1f"
SEP_SQL = "chr(31)"
SEP_EXPR = "'\\u001f'"


def _sql_round(r: int) -> str:
    """CTEs for round r: pair counts p{r} from vocab v{r}, the argmax
    b{r}, and the merged vocabulary v{r+1}."""
    return f"""
    e{r} AS (
        SELECT freq,
               list_filter(string_split(s, {SEP_SQL}), x -> x != '') AS syms
        FROM v{r}
    ),
    p{r} AS (
        SELECT pr['a'] AS a, pr['b'] AS b, CAST(SUM(freq) AS BIGINT) AS c
        FROM (
            SELECT freq, unnest(list_transform(range(1, len(syms)),
                   i -> {{'a': syms[i], 'b': syms[i + 1]}})) AS pr
            FROM e{r}
        )
        WHERE pr['a'] != pr['b']
        GROUP BY a, b
    ),
    b{r} AS (
        SELECT {r} AS step, a, b, c
        FROM p{r} ORDER BY c DESC, a, b LIMIT 1
    ),
    v{r + 1} AS (
        -- LEFT JOIN ON TRUE + COALESCE instead of a cross join: when
        -- pair candidates dry up before BPE_STEPS rounds, b{r} is
        -- empty and a cross join would EMPTY the vocabulary — the
        -- fallback keeps v{r} verbatim, matching the Spark trainer's
        -- loop break (advisory r9)
        SELECT word, freq,
               COALESCE(replace(replace(s,
                   {SEP_SQL} || b{r}.a || {SEP_SQL} || b{r}.b || {SEP_SQL},
                   {SEP_SQL} || b{r}.a || b{r}.b || {SEP_SQL}),
                   {SEP_SQL} || b{r}.a || {SEP_SQL} || b{r}.b || {SEP_SQL},
                   {SEP_SQL} || b{r}.a || b{r}.b || {SEP_SQL}), s) AS s
        FROM v{r} LEFT JOIN b{r} ON TRUE
    )"""


#: the trainer's full unrolled CTE chain, WITH-keyword included, up
#: through the final vocabulary state v{BPE_STEPS} — the named constant
#: every BPE oracle appends its own final SELECT to.
TRAIN_CTES = (
    """
    WITH toks AS (
        SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
        FROM documents
    ),
    v0 AS (
        SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq,
               """
    + SEP_SQL
    + " || regexp_replace(w, '(.)', '\\1' || "
    + SEP_SQL
    + """, 'g') AS s
        FROM toks WHERE regexp_matches(w, '^[a-z0-9]+$') GROUP BY w
    ),"""
    + ",".join(_sql_round(r) for r in range(BPE_STEPS))
    + "\n    "
)

TRAIN_ORACLE_SQL = (
    TRAIN_CTES
    + f"""SELECT CAST(step AS BIGINT) AS step, a AS lhs, b AS rhs,
           c AS pair_count
    FROM ({" UNION ALL ".join(f"SELECT * FROM b{r}" for r in range(BPE_STEPS))})
    """
)


def word_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The alphanumeric word vocabulary with \\x1f-delimited symbol
    strings — the trainer's v0 state."""
    toks = table(spark, sf_dir, "documents").select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w")
    )
    return (
        toks.filter(F.col("w").rlike("^[a-z0-9]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.col("w").alias("word"),
            "freq",
            F.concat(
                F.lit(SEP), F.regexp_replace("w", "(.)", "$1" + SEP)
            ).alias("s"),
        )
    )


def pair_counts(vocab: DataFrame) -> DataFrame:
    """Adjacent symbol-pair frequencies over the vocabulary, self pairs
    excluded (module docstring)."""
    with_syms = vocab.withColumn(
        "syms", F.expr(f"filter(split(s, {SEP_EXPR}), x -> x != '')")
    )
    return (
        with_syms.where(F.size("syms") >= 2)
        .select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1), i -> "
                    "struct(element_at(syms, i) AS a, "
                    "element_at(syms, i + 1) AS b))"
                )
            ).alias("pr"),
        )
        .where(F.col("pr.a") != F.col("pr.b"))
        .groupBy("pr.a", "pr.b")
        .agg(F.sum("freq").alias("c"))
    )


def train(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[tuple[int, str, str, int]]]:
    """Run the BPE_STEPS trainer loop once: returns (final vocabulary
    DataFrame, merge list [(step, lhs, rhs, pair_count)]).  One
    single-row argmax collect per round (the sanctioned iterative
    pattern).

    Only the BASE vocabulary is localCheckpointed (r17, guide §1.2):
    the per-round checkpoint each merge application used to pay was a
    full vocabulary materialization JOB per round — 6 extra jobs whose
    only benefit was a flat plan.  Merge application is a map-only
    string replace, so round r's argmax now replays the r accumulated
    replaces over the checkpointed base instead — O(M^2/2) replace
    passes across the whole training (M = BPE_STEPS = 6, each pass one
    in-codegen expression over a Heaps'-law-bounded vocab) against 6
    fewer materializations.  Measured 1.29 -> 1.04 s min at sf0.1;
    merge list and final vocabulary verified identical."""
    vocab = word_vocab(spark, sf_dir).localCheckpoint()
    merges: list[tuple[int, str, str, int]] = []
    for step in range(BPE_STEPS):
        best = (
            pair_counts(vocab)
            .orderBy(F.desc("c"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b, c = best[0]["a"], best[0]["b"], best[0]["c"]
        merges.append((step, a, b, c))
        pat = F.lit(SEP + a + SEP + b + SEP)
        rep = F.lit(SEP + a + b + SEP)
        vocab = vocab.withColumn(
            "s", F.replace(F.replace(F.col("s"), pat, rep), pat, rep)
        )
    return vocab, merges


@register(
    "text_bpe_train",
    oracle=TRAIN_ORACLE_SQL,
    tags=("text", "iterative", "agg"),
)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge list: (step, lhs, rhs, pair_count) for
    BPE_STEPS rounds of most-frequent-adjacent-pair merging over the
    alphanumeric word vocabulary (count DESC, lhs, rhs tie-break; self
    pairs excluded — module docstring)."""
    _, merges = train(spark, sf_dir)
    return spark.createDataFrame(
        merges, "step long, lhs string, rhs string, pair_count long"
    )


_COMPRESSION_ORACLE_SQL = (
    TRAIN_CTES
    + f"""SELECT
        CAST(COUNT(*) AS BIGINT) AS n_words,
        CAST(SUM(freq) AS BIGINT) AS n_tokens,
        CAST(SUM(freq * length(word)) AS BIGINT) AS base_symbols,
        CAST(SUM(freq * len(list_filter(string_split(s, {SEP_SQL}),
                                        x -> x != ''))) AS BIGINT)
            AS merged_symbols,
        CAST(CAST((SUM(freq * length(word))
              - SUM(freq * len(list_filter(string_split(s, {SEP_SQL}),
                                           x -> x != '')))) * 1000
             AS BIGINT) // SUM(freq * length(word)) AS BIGINT) AS saved_pm
    FROM v{BPE_STEPS}
    """
)


@register(
    "text_bpe_compression",
    oracle=_COMPRESSION_ORACLE_SQL,
    tags=("text", "iterative", "agg"),
)
def text_bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the learned merges BUY, measured on the training corpus:
    distinct words, corpus token occurrences, symbol count before any
    merge (= character count) and after BPE_STEPS merges, and the
    integer-permille symbol saving.  Runs the identical training loop
    and aggregates the FINAL vocabulary state — the oracle reuses the
    trainer's unrolled rounds and aggregates its last-round vocabulary
    CTE, so the applied merges (not just the chosen pairs) are
    hash-gated corpus-wide."""
    vocab, _ = train(spark, sf_dir)
    n_syms = F.size(F.expr(f"filter(split(s, {SEP_EXPR}), x -> x != '')"))
    return vocab.agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("freq").alias("n_tokens"),
        F.sum(F.col("freq") * F.length("word")).alias("base_symbols"),
        F.sum(F.col("freq") * n_syms).alias("merged_symbols"),
        (
            (
                F.sum(F.col("freq") * F.length("word"))
                - F.sum(F.col("freq") * n_syms)
            )
            * 1000
        )
        .cast("long")
        .alias("_num"),
    ).select(
        "n_words",
        "n_tokens",
        "base_symbols",
        "merged_symbols",
        F.expr("_num div base_symbols").alias("saved_pm"),
    )

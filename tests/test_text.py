"""Behaviour tests for the text operators in operators/text.py: sentence
and boilerplate stats and the quality curve, against Python witnesses."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigbugdata_spark.registry import load_all


SPECS = load_all()


def test_sentence_stats_docs_conserve(spark, sf_oracle):
    """Per-language doc counts conserve to the documents table; a doc
    with no sentence-ending punctuation still counts (its whole trimmed
    text is one segment unless empty)."""
    rows = SPECS["text_sentence_stats"].fn(spark, sf_oracle).collect()
    docs = spark.read.parquet(f"{sf_oracle}/documents.parquet")
    want = {r["lang"]: r["cnt"] for r in docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}
    got = {r["lang"]: r["n_docs"] for r in rows}
    assert got == want
    for r in rows:
        assert r["long_sentences"] <= r["n_sentences"]
        assert 0 <= r["long_sent_pm"] <= 1000


def test_boilerplate_bounds_and_consistency(spark, sf_oracle):
    """Boilerplate occurrences never exceed total sentences; the rate
    is the integer-permille of exactly those columns; distinct
    boilerplate sentences <= occurrences; totals agree with
    text_sentence_stats' per-lang sentence counts (same segmenter)."""
    rows = {r["lang"]: r for r in SPECS["text_boilerplate"].fn(spark, sf_oracle).collect()}
    sent = {r["lang"]: r for r in SPECS["text_sentence_stats"].fn(spark, sf_oracle).collect()}
    assert set(rows) == set(sent)
    for lang, r in rows.items():
        assert r["boiler_occurrences"] <= r["n_sentences"]
        assert r["boiler_distinct"] <= r["boiler_occurrences"]
        assert r["boiler_pm"] == r["boiler_occurrences"] * 1000 // r["n_sentences"]
        assert r["n_sentences"] == sent[lang]["n_sentences"]


def test_quality_curve_monotone_and_anchored(spark, sf_oracle):
    """Retention is monotone non-increasing in the threshold; threshold
    0 keeps everything; kept counts at each threshold equal a recount
    from the registered quality scores (shared definition, no drift)."""
    rows = {
        r["threshold_deci"]: r
        for r in SPECS["text_quality_threshold_curve"].fn(spark, sf_oracle).collect()
    }
    assert set(rows) == set(range(11))
    docs = spark.read.parquet(f"{sf_oracle}/documents.parquet").count()
    assert rows[0]["docs_kept"] == docs
    assert rows[0]["tokens_kept_pm"] == 1000
    for t in range(1, 11):
        for c in ("docs_kept", "tokens_kept", "chars_kept"):
            assert rows[t][c] <= rows[t - 1][c]
    # recount from the registered score (deci = quality * 10, exact)
    q = SPECS["text_quality_score"].fn(spark, sf_oracle).collect()
    for t in range(11):
        want = sum(1 for r in q if round(r["quality"] * 10) >= t)
        assert rows[t]["docs_kept"] == want, t

"""Behaviour tests for the corpus-curation operators in
operators/corpus.py: temperature mixes and survivor quality."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigbugdata_spark.registry import load_all

SPECS = load_all()


def test_temperature_mix_flattens_and_conserves(spark, sf_oracle):
    """T=1/2 flattening: epochs_milli is non-increasing in n_tokens
    across sources (small oversampled, large subsampled); allocations
    conserve the one-corpus budget within per-source truncation; shares
    sum to <= 1000 pm (truncating division)."""
    rows = sorted(
        SPECS["corpus_temperature_mix"].fn(spark, sf_oracle).collect(),
        key=lambda r: r["n_tokens"],
    )
    assert len(rows) >= 2
    total_tokens = sum(r["n_tokens"] for r in rows)
    total_alloc = sum(r["alloc_tokens"] for r in rows)
    assert total_tokens - len(rows) < total_alloc <= total_tokens
    assert sum(r["target_share_pm"] for r in rows) <= 1000
    # flattening direction: same weight -> epochs ordered by size;
    # globally the LARGEST source never oversamples more than the
    # SMALLEST (strict when sizes differ enough to change the weight)
    assert rows[0]["epochs_milli"] >= rows[-1]["epochs_milli"]
    if rows[0]["weight"] != rows[-1]["weight"]:
        assert rows[0]["epochs_milli"] > rows[-1]["epochs_milli"]
    for r in rows:
        assert r["weight"] == int(r["n_tokens"] ** 0.5)


# --- dedup survivorship-quality card (r13-new) -----------------------------


def test_survivor_quality_conserves_and_matches_keep(spark, sf_oracle):
    """Both cohorts live on the fixture; kept+removed doc/token/deci
    totals equal the whole-corpus totals (conservation — the card
    partitions the corpus exactly); the removed doc count equals
    dedup_cluster_keep's keep=0 count (one decision, two
    registrations)."""
    from bigbugdata_spark.functions.fragments import (
        quality_base_frame,
        quality_deci_col,
    )

    rows = {
        r["cohort"]: r
        for r in SPECS["corpus_survivor_quality"].fn(spark, sf_oracle).collect()
    }
    assert set(rows) == {"kept", "removed"}
    whole = (
        quality_base_frame(spark, sf_oracle)
        .select("n_tokens", quality_deci_col().alias("deci"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_tokens").alias("t"),
            F.sum("deci").alias("d"),
        )
        .collect()[0]
    )
    assert rows["kept"]["n_docs"] + rows["removed"]["n_docs"] == whole["n"]
    assert (
        rows["kept"]["total_tokens"] + rows["removed"]["total_tokens"]
        == whole["t"]
    )
    assert rows["kept"]["deci_sum"] + rows["removed"]["deci_sum"] == whole["d"]
    n_removed = (
        SPECS["dedup_cluster_keep"]
        .fn(spark, sf_oracle)
        .filter(F.col("keep") == 0)
        .count()
    )
    assert rows["removed"]["n_docs"] == n_removed

"""THE int8 quantization definition — shared by operators/quantize.py
(the registered summary query) and operators/kmeans.py (whose iterative
oracle re-derives the same quantized vectors in SQL). The hash-exact
oracle contract of every consumer rests on the Spark and SQL forms
staying semantically identical, so both live here in one place (same
lockstep discipline as functions/hashing.py).

Per vector: scale = 127 / max|x|, q_j = round(x_j * scale) in
[-127, 127]. All arithmetic is float->double exact promotion, one
double division for the scale, and half-away-from-zero rounding —
identical in Spark and DuckDB."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

Q_MAX = 127


def quantized_vec(emb: Column) -> Column:
    """array<bigint> int8 quantization of a float-array Column.

    The per-row max|x| is let-bound (hashing.let_bound) so it is
    EVALUATED ONCE per row: referencing the array_max expression
    directly inside the per-element lambda would inline and re-run it
    for every element — interpreted HOFs get no common-subexpression
    elimination across lambda bodies, turning O(d) into O(d^2) per row
    (the regression the first shared-builder version shipped).

    An all-zero vector gets scale 0 (not 127/0 = inf, whose 0 * inf =
    NaN would silently poison every consumer distance — the kmeans
    assignment shares this builder): its quantized form is the zero
    vector, the only value that round-trips q_j * (max|x|/127) = x_j."""
    from bigbugdata_spark.functions.hashing import let_bound

    max_abs = F.array_max(F.transform(emb, lambda x: F.abs(x.cast("double"))))
    return let_bound(
        max_abs,
        lambda m: F.transform(
            emb,
            lambda x: F.round(
                x.cast("double")
                * F.when(m == 0.0, F.lit(0.0)).otherwise(F.lit(float(Q_MAX)) / m)
            ).cast("long"),
        ),
    )


def sql_quantized_vec(emb: str) -> str:
    """DuckDB twin of quantized_vec (bit-identical rounding, same
    all-zero-vector -> zero-vector guard)."""
    max_abs = f"list_max(list_transform({emb}, y -> abs(CAST(y AS DOUBLE))))"
    scale = f"(CASE WHEN {max_abs} = 0 THEN 0.0 ELSE {Q_MAX} / {max_abs} END)"
    return (
        f"list_transform({emb}, x -> CAST(round(CAST(x AS DOUBLE)"
        f" * {scale}) AS BIGINT))"
    )

"""Int8 embedding quantization — the 4× memory/IO lever for vector search.

At 100 TB an `array<float>` embedding column dominates scan and shuffle
cost for every similarity-search operator. Symmetric per-vector int8
quantization (scale = max|x|/127, code = round(x/scale)) cuts the column
4×, and is the standard first step before IVF/PQ-style indexes.

Determinism/parity design:
- codes use floor(x/s + 0.5), not round(): round() is HALF_UP in Spark
  and half-even in DuckDB, so a code landing exactly on .5 would diverge;
  floor of the identical double never does.
- the dot product is computed in INTEGER arithmetic (Σ code_q·code_d,
  |Σ| ≤ 127²·dim) and only then multiplied by the two scales in a fixed
  association ``(scale_d · scale_q) · Σ``. Integer sums are
  order-independent, so — unlike a float dot — the quantized score is
  bitwise identical across engines and partitionings by construction.
- zero vectors get scale 0 and all-zero codes (no division).

All pure Catalyst (nested higher-order lambdas; the scale is let-bound so
array_max runs once per vector, not once per element).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def quantize_embeddings(
    df: DataFrame, emb_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """(id, scale DOUBLE, codes array<int>) — symmetric per-vector int8
    range, materialized as int for exact downstream arithmetic.

    The let-bound scale/codes expression parses from ONE SQL string per
    output column (§12 fast path, r12): same nested-lambda trees, same
    D-suffixed double literals and operand order as the retired Column
    form, so codes and scales are bitwise identical — pinned by the
    quantize unit tests and the ann_quantized_search / eval_rank_agreement
    oracle rows."""
    from ..functions.vectors import sql_ident

    e = sql_ident(emb_col)
    packed = (
        f"transform(array(array_max(transform({e}, "
        "x -> abs(cast(x AS DOUBLE)))) / 127.0D), "
        "s -> struct(s AS scale, "
        f"transform({e}, x -> CAST(floor(CASE WHEN (s = 0) THEN 0.0D "
        "ELSE (cast(x AS DOUBLE) / s) END + 0.5D) AS INT)) AS codes))[0]"
    )
    return df.select(
        F.col(id_col),
        F.expr(f"{packed}.scale").alias("scale"),
        F.expr(f"{packed}.codes").alias("codes"),
    )


def quantized_dot(
    d_codes: Column | str,
    q_codes: Column | str,
    d_scale: Column | str,
    q_scale: Column | str,
) -> Column:
    """(scale_d · scale_q) · Σ code_d·code_q — integer-exact inner sum.

    With all-string (top-level column name) inputs the expression parses
    as ONE SQL string — same integer fold seeded CAST(0 AS BIGINT), same
    association, bitwise-identical scores."""
    if all(isinstance(c, str) for c in (d_codes, q_codes, d_scale, q_scale)):
        from ..functions.vectors import sql_ident

        dc, qc = sql_ident(d_codes), sql_ident(q_codes)
        ds, qs = sql_ident(d_scale), sql_ident(q_scale)
        return F.expr(
            f"({ds} * {qs}) * CAST(aggregate(zip_with({dc}, {qc}, "
            "(a, b) -> a * b), CAST(0 AS BIGINT), (acc, x) -> acc + x) "
            "AS DOUBLE)"
        )
    # names mixed with Columns bind as column references, not literals
    d_codes, q_codes, d_scale, q_scale = (
        F.col(c) if isinstance(c, str) else c
        for c in (d_codes, q_codes, d_scale, q_scale)
    )
    intdot = F.aggregate(
        F.zip_with(d_codes, q_codes, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (d_scale * q_scale) * intdot.cast("double")

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
    range, materialized as int for exact downstream arithmetic. The
    scale is let-bound via a 1-element transform, so array_max runs once
    per vector."""
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
    d_codes: str, q_codes: str, d_scale: str, q_scale: str
) -> Column:
    """(scale_d · scale_q) · Σ code_d·code_q over four column names —
    integer-exact inner sum, a fold seeded CAST(0 AS BIGINT)."""
    from ..functions.vectors import sql_ident

    dc, qc = sql_ident(d_codes), sql_ident(q_codes)
    ds, qs = sql_ident(d_scale), sql_ident(q_scale)
    return F.expr(
        f"({ds} * {qs}) * CAST(aggregate(zip_with({dc}, {qc}, "
        "(a, b) -> a * b), CAST(0 AS BIGINT), (acc, x) -> acc + x) "
        "AS DOUBLE)"
    )

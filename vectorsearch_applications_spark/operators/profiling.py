"""Column-statistics profiling — the ANALYZE TABLE pass of the engine.

Every cost-based decision upstream of this repo's plan choices (broadcast
vs shuffle join, skew salting, bucketing keys, runtime filters) starts
from per-column statistics: null fraction, distinct count, min/max. The
reference has no analog (Weaviate manages its own schema); at 100 TB the
stats pass is a first-class pipeline stage run per ingest batch.

Plan (r6 A/B ladder, same-session medians at sf0.1): the obvious
one-agg-with-N-countDistinct form compiles to an Expand that replays
every row once per distinct aggregate — 4.35 s; a posexplode to
(column, stringified value) pairs through two map-side-combinable
aggregations — 0.91 s; a union of per-column ``distinct()`` → count
branches — 0.39 s. The union wins because each branch is a
column-PRUNED native-typed scan (columnar storage reads the same total
bytes as one wide scan), the shuffle carries no column-label or
stringified payload, and map-side distinct combining happens per
column; it is also Expand-free (a single distinct aggregate per branch
never Expands). So:

- null counts and min/max: ONE plain aggregation (map-side combinable,
  no Expand), min/max on the NATIVE type and stringified only after the
  aggregate (stringify-first would rank "9999" above "14999"), unpivoted
  in-plan with ``stack``;
- exact NDV: one branch per column — filter nulls, ``distinct()`` on
  the native type (map-side partial distinct), count — unioned into a
  |cols|-row frame;
- the two tiny results (N rows each) join on column_name.

Determinism: float columns must be pre-bucketed to integers by the
caller (the repo-wide no-raw-floats output rule). Swap the NDV branch
for per-column hll_registers when exact distinct counts are
unaffordable; the stats branch is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _label(name: str) -> str:
    """``name`` as a SQL string literal (backslash and quote escaped)."""
    return "'{}'".format(name.replace("\\", "\\\\").replace("'", "\\'"))


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """(column_name, n_null, n_distinct, min_s, max_s) per requested
    column — one stats scan + one NDV scan, both Expand-free."""
    from ..functions.vectors import sql_alias, sql_ident

    # the per-column stat aggregates and NDV branches parse as SQL: sum
    # over CAST(IS NULL AS BIGINT), CAST(min/max AS STRING), count(1)
    # over the distinct'd single-column projection.
    exprs = []
    stack_args = []
    for c in cols:
        q = sql_ident(c)
        nn, mn, mx = (sql_alias(f"_{s}_{c}") for s in ("nn", "mn", "mx"))
        exprs += [
            f"sum(CAST(({q} IS NULL) AS BIGINT)) AS {nn}",
            f"CAST(min({q}) AS STRING) AS {mn}",
            f"CAST(max({q}) AS STRING) AS {mx}",
        ]
        stack_args.append(f"{_label(c)}, {nn}, {mn}, {mx}")
    row = df.selectExpr(*exprs)
    base = row.selectExpr(
        f"stack({len(cols)}, {', '.join(stack_args)}) AS "
        "(column_name, n_null, min_s, max_s)"
    )
    import functools

    branches = [
        df.selectExpr(f"{sql_ident(c)} AS v")
        .filter("v IS NOT NULL")  # countDistinct ignores nulls
        .distinct()
        .selectExpr(
            f"{_label(c)} AS column_name",
            "CAST(count(1) AS BIGINT) AS n_distinct",
        )
        for c in cols
    ]
    nd = functools.reduce(lambda a, b: a.unionAll(b), branches)
    return base.join(nd, "column_name", "left").select(
        "column_name",
        F.col("n_null").cast("bigint").alias("n_null"),
        F.coalesce("n_distinct", F.lit(0)).cast("bigint").alias(
            "n_distinct"
        ),
        "min_s",
        "max_s",
    )

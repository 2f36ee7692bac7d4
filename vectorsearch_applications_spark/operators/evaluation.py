"""Retrieval evaluation as one DataFrame job (SURVEY.md §3.2, O3 + A2-A4 + W3).

The reference loops over 100 golden queries × 3 methods with a network call
each (``src/evaluation/retrieval_evaluation.py:399-466``) and accumulates
``raw_hits`` / ``mrr`` in Python. Batch re-expression: join the ranked hit
lists to the golden (query → relevant_doc_id) table, then aggregate —

    hit_rate = round(sum(hit) / n_queries, 2)      (calc_hit_rate_scores :490-501)
    mrr      = round(sum(1/rank) / n_queries, 2)   (calc_mrr_scores     :503-514)

Both rounded to 2dp exactly as the reference records them (BASELINE.md
quality parity gate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def retrieval_metrics(
    hits: DataFrame,
    golden: DataFrame,
    method_col: str | None = "method",
    methods: list[str] | None = None,
) -> DataFrame:
    """hits: (query_id, doc_id, rank[, method]); golden: (query_id,
    relevant_doc_id). Output per method: n_queries, raw_hits, hit_rate, mrr,
    total_misses.

    ``methods``: the full expected method list. Without it the methods are
    derived from the hits, so a method whose search returned zero rows
    vanishes from the report instead of showing hit_rate 0 — pass the list
    explicitly when that distinction matters (the reference evaluates every
    configured method over the full query set).
    """
    group = [method_col] if method_col else []
    base = golden.select("query_id", "relevant_doc_id")
    if method_col:
        # every golden query is evaluated under every method
        if methods is not None:
            spark = hits.sparkSession
            from ..sources.io import one_slice_df

            method_df = one_slice_df(
                spark, [(m,) for m in methods], f"{method_col} string"
            )
        else:
            method_df = hits.select(method_col).distinct()
        base = base.crossJoin(method_df)
    # left join so queries with zero hits still count toward n_queries.
    # The aggregate expressions parse as SQL — note 1.0D, not 1.0, in the
    # mrr reciprocal (a bare SQL 1.0 parses as DECIMAL and would change
    # the division's type and rounding). Pinned by
    # test_operators.py::test_retrieval_metrics_sql_construction_bitwise_equal
    # and the eval_* oracle rows.
    per_query = (
        base.join(hits, [*group, "query_id"], "left")
        .groupBy(*group, "query_id")
        .agg(
            F.expr(
                "min(CASE WHEN doc_id = relevant_doc_id THEN rank END)"
                " AS hit_rank"
            )
        )
    )
    return (
        per_query.groupBy(*group)
        .agg(
            F.expr("count(*) AS n_queries"),
            F.expr(
                "sum(CASE WHEN hit_rank IS NOT NULL THEN 1 ELSE 0 END)"
                " AS raw_hits"
            ),
            F.expr(
                "round(sum(CASE WHEN hit_rank IS NOT NULL THEN 1 ELSE 0 END)"
                " / count(*), 2) AS hit_rate"
            ),
            F.expr(
                "round(sum(coalesce(1.0D / hit_rank, 0.0D)) / count(*), 2)"
                " AS mrr"
            ),
            F.expr(
                "sum(CASE WHEN hit_rank IS NULL THEN 1 ELSE 0 END)"
                " AS total_misses"
            ),
        )
    )


def auc_from_scores(
    scored: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """ROC-AUC as INTEGER-EXACT rank statistics — the classifier-quality
    metric closing the quality-classifier loop (fit: classifier.py
    logistic_fit; deploy: logistic_margin scoring; eval: here).

    AUC = P(score_pos > score_neg) + ½·P(tie) = U / (P·N) with the
    Mann-Whitney U. Emits one row (auc_num2 = 2U, n_pos, n_neg) — all
    BIGINT, so the metric is bitwise reproducible and SQL-restatable;
    the caller divides (auc = auc_num2 / (2·n_pos·n_neg)).

    Scale shape (the group-mode pattern): ONE map-side-combinable
    aggregation collapses the corpus to its distinct-score table
    (|distinct scores| rows — bounded by the score expression's feature
    granularity, not the corpus), then the cumulative-negatives window
    and the final sum run over that value table. No global sort of raw
    rows, no per-row window.
    """
    s = scored.groupBy(F.col(score_col).alias("s")).agg(
        F.sum(F.col(label_col).cast("bigint")).alias("npos"),
        (F.count(F.lit(1)) - F.sum(F.col(label_col).cast("bigint"))).alias(
            "nneg"
        ),
    )
    w = (
        Window.orderBy("s")  # distinct-score table: bounded input
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = s.withColumn(
        "cneg", F.coalesce(F.sum("nneg").over(w), F.lit(0))
    )
    # each positive at score s beats every lower-scored negative (×2) and
    # half-ties with the nneg negatives at s (×1): 2U in one expression
    return c.agg(
        F.sum(
            F.col("npos") * (F.lit(2) * F.col("cneg") + F.col("nneg"))
        )
        .cast("bigint")
        .alias("auc_num2"),
        F.sum("npos").cast("bigint").alias("n_pos"),
        F.sum("nneg").cast("bigint").alias("n_neg"),
    )


def confusion_ladder(
    scored: DataFrame,
    score_col: str,
    label_col: str,
    thresholds: list[float],
) -> DataFrame:
    """Precision/recall curve material: confusion counts at a fixed
    threshold ladder (predicted positive ⟺ score > t, matching the
    frozen scorer's keep rule). The industry pass behind choosing a
    quality-filter operating point.

    Scale shape: ONE map-side-combinable aggregation computes all
    4·|ladder| conditional sums over the corpus (no per-threshold scan,
    no shuffle beyond the single 1-row agg), then an in-plan stack
    unpivot emits one row per threshold. Thresholds should be dyadic so
    the e6-scaled key and every comparison are engine-exact.

    Output: (threshold_e6, tp, fp, fn, tn) — all BIGINT.
    """
    import math

    from ..functions.vectors import sql_ident

    if not thresholds:
        raise ValueError("thresholds must be non-empty")
    if not all(math.isfinite(t) for t in thresholds):
        # repr(inf/nan) is not a parseable SQL double literal
        raise ValueError("thresholds must be finite")
    # the 4·|ladder| conditional sums parse as ONE SQL projection — the
    # D-suffixed threshold literal is the exact double (repr round-trips
    # any finite float, and the parser's Double.parseDouble is correctly
    # rounded), the bare 1/0 literals are ints. coalesce zero-fills so
    # an empty corpus yields 0-rows, not nulls.
    s = sql_ident(score_col)
    y = f"CAST({sql_ident(label_col)} AS BIGINT)"
    exprs = []
    for i, t in enumerate(thresholds):
        pred = f"CAST(({s} > {float(t)!r}D) AS BIGINT)"
        for body, name in (
            (f"{pred} * {y}", f"tp_{i}"),
            (f"{pred} * (1 - {y})", f"fp_{i}"),
            (f"(1 - {pred}) * {y}", f"fn_{i}"),
            (f"(1 - {pred}) * (1 - {y})", f"tn_{i}"),
        ):
            exprs.append(
                f"CAST(coalesce(sum({body}), 0) AS BIGINT) AS {name}"
            )
    one = scored.selectExpr(*exprs)
    stack = ", ".join(
        f"bigint({round(t * 1_000_000)}), tp_{i}, fp_{i}, fn_{i}, tn_{i}"
        for i, t in enumerate(thresholds)
    )
    return one.selectExpr(
        f"stack({len(thresholds)}, {stack}) AS "
        "(threshold_e6, tp, fp, fn, tn)"
    )

"""Hybrid (BM25 + vector) fusion (SURVEY.md Q3, O2, W4).

Reproduces the reference's hand-rolled fusion exactly
(``notebooks/4-Reranking_Week2.ipynb`` cells 19-33):

1. retrieve top-N per method (BM25 score; vector similarity = 1 − distance,
   cell 19);
2. min-max normalize scores *within each method's retrieved list*
   (MinMaxScaler, cell 23 — a constant list maps to 0.0 like sklearn);
3. weight keyword by (1 − α) and vector by α (cell 25; α=0 pure BM25,
   α=1 pure vector — docstring ``weaviate_interface_v4.py:330-335``);
4. sum scores of docs appearing in both lists (``add_doc_scores``, cell 33)
   — a full-outer join on (query_id, doc_id) with coalesce(…, 0);
5. sort desc, top-k.

Scale: the inputs are already top-N-per-query (small); the fusion join keys
on (query_id, doc_id) and AQE will broadcast whichever side is smaller.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def minmax_normalize(
    df: DataFrame, value_col: str, group_cols: list[str], out_col: str = "norm"
) -> DataFrame:
    """(s − min)/(max − min) within group; degenerate group → 0.0 (sklearn
    MinMaxScaler behavior on a constant column).

    The window expression parses JVM-side as ONE SQL string (pinned by
    test_operators.py::test_hybrid_fusion_sql_construction_bitwise_equal
    and every hybrid oracle row)."""
    from ..functions.vectors import sql_ident

    pb = ", ".join(sql_ident(c) for c in group_cols)
    v = sql_ident(value_col)
    mn = f"min({v}) OVER (PARTITION BY {pb})"
    mx = f"max({v}) OVER (PARTITION BY {pb})"
    return df.withColumn(
        out_col,
        F.expr(
            f"CASE WHEN {mx} - {mn} = 0 THEN 0.0D "
            f"ELSE ({v} - {mn}) / ({mx} - {mn}) END"
        ),
    )


def hybrid_search(
    kw_hits: DataFrame,
    vec_hits: DataFrame,
    alpha: float = 0.5,
    limit: int = 10,
) -> DataFrame:
    """Fuse per-method hit lists.

    kw_hits:  (query_id, doc_id, score)      — BM25, higher is better
    vec_hits: (query_id, doc_id, distance)   — cosine distance, lower better
    Output:   (query_id, doc_id, rank, score) — fused, rank 1-based.
    """
    # weight/score/rank expressions parse as SQL (float weights embedded
    # via repr, which round-trips any finite double).
    import math

    if not math.isfinite(alpha):
        raise ValueError(f"alpha must be a finite float (got {alpha})")
    kw_n = minmax_normalize(
        kw_hits.select("query_id", "doc_id", "score"),
        "score",
        ["query_id"],
    ).selectExpr(
        "query_id",
        "doc_id",
        f"norm * {1.0 - alpha!r}D AS kw_score",
    )
    vec_n = minmax_normalize(
        vec_hits.selectExpr(
            "query_id", "doc_id", "1.0D - distance AS sim"
        ),
        "sim",
        ["query_id"],
    ).selectExpr(
        "query_id",
        "doc_id",
        f"norm * {float(alpha)!r}D AS vec_score",
    )

    fused = (
        kw_n.join(vec_n, ["query_id", "doc_id"], "full_outer")
        .withColumn(
            "score",
            F.expr("coalesce(kw_score, 0.0D) + coalesce(vec_score, 0.0D)"),
        )
    )
    return (
        fused.withColumn(
            "rank",
            F.expr(
                "row_number() OVER "
                "(PARTITION BY query_id ORDER BY score DESC, doc_id ASC)"
            ),
        )
        .filter(F.col("rank") <= limit)
        .select("query_id", "doc_id", "rank", "score")
    )


def rrf_fuse(
    hit_lists: list[DataFrame],
    k: int = 60,
    limit: int = 10,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Buettcher, SIGIR '09 —
    public): ``score(d) = Σ_m 1 / (k + rank_m(d))``. The other standard
    fusion next to weighted min-max — score-scale-free, so it needs no
    normalization pass and composes any number of retrieval arms.

    Each input: (query_id, doc_id, rank). Output: (query_id, doc_id, rank,
    score, n_lists) — fused rank 1-based, n_lists = how many arms returned
    the doc.

    Scale: inputs are top-N-per-query (bounded); one union + one
    aggregation on (query_id, doc_id), partial-aggregated map-side. With
    two arms the score sum is a single commutative IEEE add, so fused
    scores are bitwise deterministic regardless of aggregation order.
    """
    from functools import reduce

    # 1.0D / (kD + rank), with k embedded via repr.
    import math

    if not math.isfinite(k):
        raise ValueError(f"k must be a finite number (got {k})")
    contribs = [
        h.selectExpr(
            "query_id",
            "doc_id",
            f"1.0D / ({float(k)!r}D + rank) AS c",
        )
        for h in hit_lists
    ]
    allc = reduce(DataFrame.unionByName, contribs)
    fused = allc.groupBy("query_id", "doc_id").agg(
        F.expr("sum(c) AS score"), F.expr("count(1) AS n_lists")
    )
    return (
        fused.withColumn(
            "rank",
            F.expr(
                "row_number() OVER "
                "(PARTITION BY query_id ORDER BY score DESC, doc_id ASC)"
            ),
        )
        .filter(F.col("rank") <= limit)
        .select("query_id", "doc_id", "rank", "score", "n_lists")
    )

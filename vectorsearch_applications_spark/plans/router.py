"""Semantic route classification (SURVEY.md Q5, §3.3 step 1).

The reference routes queries to 'sql' vs 'regular' RAG with the
semantic-router library (``notebooks/8-Text2SQL_Week3.ipynb`` cells 27-47):
embed labeled utterances per route, classify a query by similarity.

Engine re-expression: routes are a tiny labeled utterance table → per-route
centroid of (deterministic hash-)embeddings → broadcast-join each query to
every centroid, cosine, argmax. Driver-side control flow then dispatches to
``run_guarded_sql`` or the search pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.embed import hash_embed_col
from ..functions.vectors import cosine_similarity


def route_queries(
    queries: DataFrame,
    routes: DataFrame,
    query_id_col: str = "query_id",
    query_col: str = "query",
    route_col: str = "route",
    utterance_col: str = "utterance",
    dim: int = 16,
) -> DataFrame:
    """(query_id, route, score): best route per query by cosine-to-centroid.

    routes: (route, utterance) labeled examples.
    """
    cent = (
        routes.select(
            F.col(route_col).alias("route"),
            hash_embed_col(utterance_col, dim).alias("_e"),
        )
        .select(
            "route", F.posexplode("_e").alias("d", "v")
        )
        .groupBy("route", "d")
        .agg(F.avg("v").alias("v"))
        .groupBy("route")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("d", "v"))), lambda s: s.v
            ).alias("centroid")
        )
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        hash_embed_col(query_col, dim).alias("_q"),
    )
    scored = q.crossJoin(F.broadcast(cent)).withColumn(
        "score", cosine_similarity("_q", "centroid", assume_normalized=False)
    )
    return (
        scored.withColumn(
            "_rn",
            F.expr(
                "row_number() OVER "
                "(PARTITION BY query_id ORDER BY score DESC, route ASC)"
            ),
        )
        .filter(F.col("_rn") == 1)
        .selectExpr("query_id", "route", "round(score, 4) AS score")
    )


_GRID_STEP = 0.05


def fit_route_thresholds(
    train: DataFrame,
    routes: DataFrame,
    default_route: str = "search",
    n_grid: int = 20,
    query_id_col: str = "query_id",
    query_col: str = "query",
    label_col: str = "label",
    dim: int = 16,
) -> DataFrame:
    """Learn per-route acceptance thresholds from labeled queries — the
    reference's ``layer.fit(X, y)`` (``notebooks/8-Text2SQL_Week3.ipynb``
    cells 34-41; semantic-router tunes per-route score thresholds against
    training accuracy).

    Engine re-expression, fully set-based (no driver loop; train can be
    arbitrarily large): score each training query to its argmax route via
    :func:`route_queries`, explode a deterministic threshold grid
    (``tidx * 0.05`` for tidx in [0, n_grid)), count per (route, threshold)
    the queries predicted correctly — accepted when ``score >= threshold``
    and labeled as the route, or rejected into ``default_route`` and
    labeled so — and keep each route's best threshold (ties → lowest).

    Output: (route, threshold_idx, threshold, n_correct, n_train) — counts,
    not ratios, so the result is integer-exact (accuracy = n_correct /
    n_train downstream).
    """
    scored = route_queries(
        train, routes, query_id_col=query_id_col, query_col=query_col, dim=dim
    )
    labeled = scored.join(
        train.select(
            F.col(query_id_col).alias("query_id"),
            F.col(label_col).alias("label"),
        ),
        "query_id",
    )
    g = labeled.select(
        "*",
        F.explode(F.sequence(F.lit(0), F.lit(n_grid - 1))).alias("tidx"),
    )
    thr = F.col("tidx") * F.lit(_GRID_STEP)
    correct = (
        (F.col("score") >= thr) & (F.col("label") == F.col("route"))
    ) | ((F.col("score") < thr) & (F.col("label") == F.lit(default_route)))
    stats = g.groupBy("route", "tidx").agg(
        F.sum(F.when(correct, 1).otherwise(0)).alias("n_correct"),
        F.count("*").alias("n_train"),
    )
    w = Window.partitionBy("route").orderBy(F.desc("n_correct"), F.asc("tidx"))
    return (
        stats.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "route",
            F.col("tidx").cast("bigint").alias("threshold_idx"),
            (F.col("tidx") * F.lit(_GRID_STEP)).alias("threshold"),
            F.col("n_correct").cast("bigint").alias("n_correct"),
            F.col("n_train").cast("bigint").alias("n_train"),
        )
    )


def route_queries_fitted(
    queries: DataFrame,
    routes: DataFrame,
    thresholds: DataFrame,
    default_route: str = "search",
    dim: int = 16,
) -> DataFrame:
    """Inference with fitted thresholds: the argmax route is accepted only
    if its score clears that route's learned threshold, else the query
    falls back to ``default_route`` (semantic-router's None-route
    fallback). ``thresholds`` is tiny (one row per route) → broadcast."""
    best = route_queries(queries, routes, dim=dim)
    t = thresholds.select("route", "threshold")
    return best.join(F.broadcast(t), "route", "left").select(
        "query_id",
        F.when(
            F.col("score") >= F.coalesce(F.col("threshold"), F.lit(0.0)),
            F.col("route"),
        )
        .otherwise(F.lit(default_route))
        .alias("route"),
        "score",
    )

"""Reranking (SURVEY.md Q4 + P9 + T1).

The reference reranks with a cross-encoder model (``src/reranker.py:6-88``:
score (query, content) pairs, optional sigmoid, add ``cross_score``, sort
desc, keep hits ≥ threshold falling back to plain top-k when none pass).

The *orchestration* — batch pair scoring, threshold-with-fallback, top-k —
is the engine's job and is reproduced here. The scorer is pluggable:

- ``rerank_overlap`` (default, deterministic, oracle-checkable): Jaccard
  token overlap between query and document — a pure Catalyst expression.
- a model-backed scorer drops in as a Pandas UDF with a per-executor model
  singleton (same shape as the embedding UDF in functions/embed.py); the
  surrounding plan is unchanged.

Threshold semantics (``reranker.py:82-87``): keep rows with score ≥
threshold; if a query has none, fall back to its top_k by score.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType


def rerank_overlap(
    hits: DataFrame,
    queries: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_col: str = "query",
    top_k: int = 5,
    threshold: float | None = None,
) -> DataFrame:
    """Rerank hit lists with the deterministic Jaccard cross-scorer.

    hits: (query_id, doc_id, ...) candidate lists (e.g. hybrid output).
    Output: (query_id, doc_id, rank, cross_score).

    Plan shape (r11 optimization round): the doc tokenize runs ABOVE the
    doc join, so only the |hits| joined rows pay it — the previous shape
    projected tokenize under the join, which tokenized EVERY corpus row
    per rerank call (a projection is never pushed through a join, so it
    ran on each streamed probe row before the match check — guide §4.1
    "pass only the columns the function needs" / §2.3 compute less).
    The join tree itself is unchanged (a first cut that also forced the
    candidate subtree into a broadcast build taxed rag_pipeline_eval
    +17% — the barrier cost more than the tokenize it saved locally).
    """
    # tokenize/jaccard expressions parse as SQL (pinned by the rerank
    # oracle rows).
    from ..functions.text import tokenize_sql
    from ..functions.vectors import sql_ident

    pairs = (
        hits.select("query_id", "doc_id")
        .join(
            F.broadcast(
                queries.select(
                    F.col(query_id_col).alias("query_id"),
                    F.expr(tokenize_sql(sql_ident(query_col))).alias("_qt"),
                )
            ),
            "query_id",
        )
        .join(
            docs.select(F.col(id_col).alias("doc_id"), F.col(text_col)),
            "doc_id",
        )
        .withColumn("_dt", F.expr(tokenize_sql(sql_ident(text_col))))
        .withColumn(
            "cross_score",
            F.expr(
                "CASE WHEN size(array_union(_qt, _dt)) = 0 THEN 0.0D "
                "ELSE CAST(size(array_intersect(_qt, _dt)) AS DOUBLE) "
                "/ CAST(size(array_union(_qt, _dt)) AS DOUBLE) END"
            ),
        )
        .select("query_id", "doc_id", "cross_score")
    )
    return _rank_with_threshold(pairs, top_k, threshold)


def _rank_with_threshold(
    pairs: DataFrame, top_k: int, threshold: float | None
) -> DataFrame:
    """Shared rerank orchestration: rank (query_id, doc_id, cross_score)
    pairs desc, apply threshold-with-fallback (reference reranker.py:82-87)
    — set-based, no driver loop."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cross_score"), F.asc("doc_id")
    )
    ranked = pairs.withColumn("rank", F.row_number().over(w))
    if threshold is None:
        out = ranked.filter(F.col("rank") <= top_k)
    else:
        # threshold-with-fallback: any query with zero passing rows keeps its
        # top_k (reference reranker.py:82-87) — set-based, no driver loop.
        n_pass = F.sum(
            F.when(F.col("cross_score") >= threshold, 1).otherwise(0)
        ).over(Window.partitionBy("query_id"))
        out = ranked.withColumn("_np", n_pass).filter(
            (
                (F.col("_np") > 0) & (F.col("cross_score") >= threshold)
            )
            | ((F.col("_np") == 0) & (F.col("rank") <= top_k))
        )
    return out.select("query_id", "doc_id", "rank", "cross_score")


_CROSS_CACHE: dict[str, object] = {}


def _get_cross_encoder(name: str):
    """Per-executor CrossEncoder singleton (load-once, same shape as
    functions/embed.py:_get_model)."""
    if name not in _CROSS_CACHE:
        try:
            from sentence_transformers import CrossEncoder  # type: ignore
        except ImportError as e:  # pragma: no cover - model lib absent in CI
            raise NotImplementedError(
                "sentence-transformers not installed; pass score_fn or use "
                "rerank_overlap for the deterministic engine path"
            ) from e
        _CROSS_CACHE[name] = CrossEncoder(name)
    return _CROSS_CACHE[name]


def model_rerank_factory(
    model_name: str = "cross-encoder/ms-marco-MiniLM-L-6-v2",
    apply_sigmoid: bool = True,
    score_fn: Callable[[list[tuple[str, str]]], list[float]] | None = None,
):
    """Build a mapInPandas pair scorer: batches with ``query`` and ``text``
    columns gain a ``cross_score`` double.

    Mirrors the reference's cross-encoder scoring (``src/reranker.py:25-48``:
    predict on [query, content] pairs, sigmoid activation unless
    ``apply_sigmoid=False``). ``score_fn`` injects a custom/fake scorer
    (tests, or any model runtime); default loads the CrossEncoder singleton
    per executor — one model load per worker, Arrow-batched inference,
    never per-row Python.
    """
    import numpy as np
    import pandas as pd

    def score_batches(
        batches: Iterator["pd.DataFrame"],
    ) -> Iterator["pd.DataFrame"]:
        fn = score_fn
        if fn is None:
            model = _get_cross_encoder(model_name)
            fn = lambda pairs: [float(s) for s in model.predict(pairs)]  # noqa: E731
        for pdf in batches:
            out = pdf.copy()
            raw = np.asarray(
                fn(list(zip(pdf["query"], pdf["text"]))), dtype="float64"
            )
            if apply_sigmoid:
                raw = 1.0 / (1.0 + np.exp(-raw))
            out["cross_score"] = raw
            yield out

    return score_batches


def rerank_model(
    hits: DataFrame,
    queries: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_col: str = "query",
    top_k: int = 5,
    threshold: float | None = None,
    model_name: str = "cross-encoder/ms-marco-MiniLM-L-6-v2",
    apply_sigmoid: bool = True,
    score_fn: Callable[[list[tuple[str, str]]], list[float]] | None = None,
) -> DataFrame:
    """Model-backed rerank: same candidate-join + threshold orchestration as
    ``rerank_overlap``, with the pair scorer swapped for the cross-encoder
    factory. Output: (query_id, doc_id, rank, cross_score)."""
    pairs_in = (
        hits.select("query_id", "doc_id")
        .join(
            F.broadcast(
                queries.select(
                    F.col(query_id_col).alias("query_id"),
                    F.col(query_col).alias("query"),
                )
            ),
            "query_id",
        )
        .join(
            docs.select(
                F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
            ),
            "doc_id",
        )
    )
    # fresh StructType: DataFrame.schema is a cached object and .add()
    # mutates it in place, corrupting the input frame's resolved columns
    out_schema = StructType(
        list(pairs_in.schema) + [StructField("cross_score", DoubleType())]
    )
    scored = pairs_in.mapInPandas(
        model_rerank_factory(model_name, apply_sigmoid, score_fn), out_schema
    )
    return _rank_with_threshold(
        scored.select("query_id", "doc_id", "cross_score"), top_k, threshold
    )

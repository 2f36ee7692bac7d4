"""Late-interaction (maxsim) retrieval — token-level dense scoring.

score(q, d) = Σ_{query tokens} max_{doc tokens} cos(qt, dt): each query
token finds its best-matching document token and the per-token maxima
sum. The interaction happens AFTER encoding (late), so document token
embeddings are precomputable/indexable — the retrieval model family the
single-vector kNN (operators/knn.py, SURVEY Q2) can't express because
one pooled vector per document loses token-level alignment.

Token embeddings here are the repo's deterministic hash encoder
(functions/embed.py hash_embed_col on the single token), making every
similarity bit-reproducible and the whole operator DuckDB-oracle-
checkable; swap a real per-token encoder via the same column.

Scale shape: document tokens embed via the DISTINCT token vocabulary
(hash each token once, not once per occurrence — Heaps-bounded like the
BPE encode map; no broadcast hint, the vocab grows with the corpus);
the query side is a few dozen token rows → broadcast into the scoring
join. The dense form scores every (doc token, query token) pair —
that's the exact semantic definition and is quadratic in tokens, so at
100 TB prune candidates first (BM25 or single-vector ANN top-N, then
late-interaction re-rank over N docs — the standard two-stage
deployment; this operator IS that second stage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.embed import hash_embed_col
from ..functions.text import tokenize
from ..functions.vectors import dot_double_sql, isin_ints
from .bm25 import bm25_search


def late_interaction_search(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query",
) -> DataFrame:
    """Top-``k`` docs per query under Σ-maxsim late interaction.

    Output: (query_id, doc_id, rank, score) — score is the raw double
    sum of per-query-token maxima (round at the consumer if hashing);
    rank breaks ties on doc_id. Duplicate query tokens count once per
    POSITION (the ColBERT convention); duplicate document tokens
    collapse (a max can't change by repeating a candidate).
    """
    qt = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.posexplode(tokenize(query_text_col)).alias("q_pos", "tok"),
    ).withColumn("_qe", hash_embed_col("tok", dim))
    dt = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokenize(text_col))).alias("tok"),
    )
    # hash each DISTINCT corpus token once (vocabulary table), then join
    # back — same amortization as the BPE encode map; no broadcast hint
    vocab = dt.select("tok").distinct().withColumn(
        "_de", hash_embed_col("tok", dim)
    )
    dte = dt.join(vocab, "tok").select("doc_id", "_de")
    sims = dte.crossJoin(
        F.broadcast(qt.select("query_id", "q_pos", "_qe"))
    ).select(
        "query_id",
        "q_pos",
        "doc_id",
        F.expr(dot_double_sql("_de", "_qe")).alias("_sim"),
    )
    maxsim = sims.groupBy("query_id", "q_pos", "doc_id").agg(
        F.max("_sim").alias("_m")
    )
    scored = maxsim.groupBy("query_id", "doc_id").agg(
        F.sum("_m").alias("score")
    )
    # rank on the ROUNDED score: exact-token matches give many docs
    # near-identical sums that differ only in summation-order ulps
    # (engine-to-engine AND run-to-run under parallel aggregation), so a
    # raw-double ordering is nondeterministic exactly where ties are
    # common; 4-decimal ties then break on doc_id
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("score", 4)), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "rank", "score")
    )


def late_interaction_rerank(
    docs: DataFrame,
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    dim: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query",
    max_collect_candidates: int = 100_000,
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Σ-maxsim re-rank of a bounded ``candidates(query_id, doc_id)``
    set — the second stage of the standard two-stage deployment.

    Scores ONLY candidate pairs: the token interaction runs over
    |candidates|·|doc tokens|·|query tokens| instead of the dense form's
    |corpus|·…, which is what makes late interaction deployable at
    100 TB (see :func:`late_interaction_two_stage`). On the pruned pairs
    the scores are IDENTICAL to :func:`late_interaction_search` —
    equality is pinned in tests/test_late_interaction.py.

    Output: (query_id, doc_id, rank, score); rank on round(score, 4)
    DESC with doc_id tie-break, same determinism contract as the dense
    form. A doc appearing as a candidate for several queries tokenizes
    and hash-embeds ONCE (distinct-doc token table + distinct-token
    vocabulary), then fans out by the candidate join.
    """
    cand = candidates.select(
        F.col(query_id_col).alias("query_id"), F.col(id_col).alias("doc_id")
    ).distinct()
    # The candidate set is bounded by design (top-N per query), and it
    # feeds THREE consumers — the cap probe, then either the literal
    # re-entry collect (below the cap) or the doc-side semi-join plus
    # the scoring join (past it). A LAZY localCheckpoint (distributed,
    # sized |Q|·N — never driver state) makes every partition of the
    # prune subtree compute exactly once: the take's own job
    # materializes-and-persists what it scans, Spark's checkpoint hook
    # fills any partitions an early-terminating take skipped, and both
    # past-cap plan consumers read the stored partitions instead of
    # re-executing the prune (AQE does not reliably reuse the exchange;
    # measured on the two-stage query, SCALE.md r9 — the r9 shape paid
    # THREE prune executions past the cap). eager=False, not True: an
    # eager checkpoint runs a separate materialization job before the
    # take, measured +13% on the below-cap graded path at sf0.1
    # (SCALE.md r10); the lazy form rides the job the old shape already
    # paid. Below the cap the candidates additionally re-enter as a
    # literal frame so the doc filter pushes down to the corpus scan.
    # Nothing collects unbounded state; execution count pinned by the
    # accumulator test in tests/test_late_interaction.py.
    cand = cand.localCheckpoint(eager=False)
    rows = cand.take(max_collect_candidates + 1)
    qt = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.posexplode(tokenize(query_text_col)).alias("q_pos", "tok"),
    ).withColumn("_qe", hash_embed_col("tok", dim))
    if len(rows) <= max_collect_candidates:
        from pyspark.sql.types import StructType

        schema = StructType(
            [
                cand.schema["query_id"],
                cand.schema["doc_id"],
            ]
        )
        from ..sources.io import one_slice_df

        cand = one_slice_df(
            docs.sparkSession,
            [(r["query_id"], r["doc_id"]) for r in rows],
            schema,
        )
        doc_ids = sorted({r["doc_id"] for r in rows})
        # isin_ints, not Column.isin: the candidate id list is the
        # largest literal set in the codebase (≤ cap; ~370 at the graded
        # shape) and element-by-element py4j conversion dominated this
        # builder's wall (r12, guide §7.3)
        pruned = docs.filter(isin_ints(id_col, doc_ids))
    else:
        cd = cand.select(F.col("doc_id").alias("_cand_doc")).distinct()
        pruned = docs.join(cd, F.col(id_col) == F.col("_cand_doc"))
    # tokenize each DISTINCT candidate doc once; the candidate set is
    # top-N per query so the corpus scan's output is ≤ |Q|·N docs
    # before the (quadratic) token interaction
    dt = pruned.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokenize(text_col))).alias("tok"),
    )
    vocab = dt.select("tok").distinct().withColumn(
        "_de", hash_embed_col("tok", dim)
    )
    # Unlike the dense form (corpus-scale vocab, hint deliberately
    # absent), THIS vocab is bounded by the candidate cap (≤ |Q|·N docs'
    # distinct tokens), so broadcasting it collapses the tok-shuffle of
    # the token table into a broadcast hash join. broadcast_vocab=False
    # restores the shuffle shape for callers running past the collect
    # cap with huge candidate sets (same degradation lever as
    # join_encode_map(broadcast_map=False), operators/bpe.py).
    vb = F.broadcast(vocab) if broadcast_vocab else vocab
    dte = dt.join(vb, "tok").select("doc_id", "_de")
    # fan candidate docs out to their queries, then bring in that
    # query's tokens; qt is a few dozen rows per query → broadcast
    sims = dte.join(cand, "doc_id").join(
        F.broadcast(qt.select("query_id", "q_pos", "_qe")), "query_id"
    ).select(
        "query_id",
        "q_pos",
        "doc_id",
        F.expr(dot_double_sql("_de", "_qe")).alias("_sim"),
    )
    maxsim = sims.groupBy("query_id", "q_pos", "doc_id").agg(
        F.max("_sim").alias("_m")
    )
    scored = maxsim.groupBy("query_id", "doc_id").agg(
        F.sum("_m").alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("score", 4)), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "rank", "score")
    )


def late_interaction_two_stage(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_candidates: int = 50,
    dim: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query",
    cache_key: str | None = None,
    first_stage: str = "bm25",
) -> DataFrame:
    """Two-stage late-interaction retrieval — THE corpus-scale entry
    point (reference analog: the §3.1 retrieve-then-rerank pipeline,
    notebooks/5-LLM_integration cell 27; dense-form docstring prescribed
    this composition in prose since r8, this makes it code).

    Stage 1 prunes the corpus to ``n_candidates`` hits per query;
    stage 2 re-ranks ONLY those candidates with Σ-maxsim. The dense
    :func:`late_interaction_search` stays the semantic oracle: on any
    candidate it keeps, this returns the same score bit-for-bit. The
    quadratic token interaction is bounded by |Q|·n_candidates
    regardless of corpus size — running the dense form corpus-wide at
    100 TB relied on the caller having read a docstring; this is the
    safe shape as the default entry.

    ``first_stage``: ``'bm25'`` (default — postings-driven, touches only
    docs sharing a term with the query; ``cache_key`` flows to the stats
    build) or ``'knn'`` (dense prune: mean-pooled hash embeddings
    through the partial-top-k kNN — recalls candidates with NO lexical
    overlap, the lexical-gap case BM25 structurally misses; swap the
    hash encoder for a model via the same columns).
    """
    if first_stage == "bm25":
        cands = bm25_search(
            docs,
            queries,
            id_col=id_col,
            text_col=text_col,
            query_id_col=query_id_col,
            query_col=query_text_col,
            limit=n_candidates,
            cache_key=cache_key,
        )
    elif first_stage == "knn":
        from ..functions.embed import hash_embed_ids
        from .knn import knn_search

        demb = hash_embed_ids(
            docs.select(F.col(id_col), F.col(text_col)), id_col, text_col, dim
        ).select(F.col(id_col).alias("vec_id"), "embedding")
        qemb = queries.select(
            F.col(query_id_col).alias("query_id"),
            hash_embed_col(query_text_col, dim).alias("query_vec"),
        )
        cands = knn_search(demb, qemb, k=n_candidates).withColumnRenamed(
            "vec_id", "doc_id"
        )
    else:
        raise ValueError(
            f"first_stage must be 'bm25' or 'knn', got {first_stage!r}"
        )
    cands = cands.select(
        F.col("query_id").alias(query_id_col), F.col("doc_id").alias(id_col)
    )
    return late_interaction_rerank(
        docs,
        queries,
        cands,
        k=k,
        dim=dim,
        id_col=id_col,
        text_col=text_col,
        query_id_col=query_id_col,
        query_text_col=query_text_col,
    )

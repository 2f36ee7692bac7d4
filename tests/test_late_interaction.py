"""Two-stage late interaction (r9, verdict task 3): the candidate-bounded
re-rank must equal the dense Σ-maxsim form on the pruned pairs, and the
two-stage entry point must compose BM25 prune → re-rank exactly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vectorsearch_applications_spark.operators.bm25 import bm25_search
from vectorsearch_applications_spark.operators.late_interaction import (
    late_interaction_rerank,
    late_interaction_search,
    late_interaction_two_stage,
)
from vectorsearch_applications_spark.sources.io import load_table

from .conftest import SF_SMOKE


def _queries(spark):
    return spark.createDataFrame(
        [
            (0, "spark join order"),
            (1, "window agg stream"),
        ],
        "query_id long, query string",
    )


def _key(rows):
    return {(r["query_id"], r["doc_id"]): (r["rank"], round(r["score"], 4)) for r in rows}


def test_rerank_equals_dense_on_candidates(spark):
    # on a candidate set covering the WHOLE corpus slice, the bounded
    # re-rank and the dense form must emit identical (rank, score) —
    # the two plans differ physically, not semantically
    docs = load_table(spark, SF_SMOKE, "documents").filter(F.col("doc_id") < 120)
    q = _queries(spark)
    all_cands = docs.select("doc_id").crossJoin(
        q.select("query_id")
    ).select("query_id", "doc_id")
    dense = late_interaction_search(docs, q, k=10)
    reranked = late_interaction_rerank(docs, q, all_cands, k=10)
    assert _key(reranked.collect()) == _key(dense.collect())


def test_rerank_scores_only_candidates(spark):
    docs = load_table(spark, SF_SMOKE, "documents").filter(F.col("doc_id") < 120)
    q = _queries(spark)
    cands = spark.createDataFrame(
        [(0, 3), (0, 7), (1, 7)], "query_id long, doc_id long"
    )
    out = late_interaction_rerank(docs, q, cands, k=10).collect()
    got = {(r["query_id"], r["doc_id"]) for r in out}
    assert got <= {(0, 3), (0, 7), (1, 7)}
    # candidate scores must equal the dense form's for the same pairs
    dense = {
        (r["query_id"], r["doc_id"]): round(r["score"], 4)
        for r in late_interaction_search(docs, q, k=1000).collect()
    }
    for r in out:
        assert round(r["score"], 4) == dense[(r["query_id"], r["doc_id"])]


def test_two_stage_composes_bm25_prune_then_rerank(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    q = _queries(spark)
    n = 25
    two = late_interaction_two_stage(docs, q, k=5, n_candidates=n)
    cands = bm25_search(docs, q, limit=n).select("query_id", "doc_id")
    manual = late_interaction_rerank(docs, q, cands, k=5)
    assert _key(two.collect()) == _key(manual.collect())
    # every hit must come from the BM25 candidate set
    cand_set = {(r["query_id"], r["doc_id"]) for r in cands.collect()}
    for qid, did in _key(two.collect()):
        assert (qid, did) in cand_set


def test_rerank_collect_and_join_shapes_agree(spark):
    # r9: below the cap the candidate set re-enters as a literal frame
    # (prune runs once, doc filter pushes to scan); past the cap the
    # join shape runs. Same rows either side of the boundary.
    docs = load_table(spark, SF_SMOKE, "documents").filter(F.col("doc_id") < 120)
    q = _queries(spark)
    cands = bm25_search(docs, q, limit=20).select("query_id", "doc_id")
    lit_shape = late_interaction_rerank(docs, q, cands, k=10)
    join_shape = late_interaction_rerank(
        docs, q, cands, k=10, max_collect_candidates=1
    )
    assert _key(lit_shape.collect()) == _key(join_shape.collect())


def test_two_stage_knn_first_stage(spark):
    # the dense prune recalls candidates with no lexical overlap; the
    # composed result must equal a manual kNN-prune → re-rank
    from vectorsearch_applications_spark.functions.embed import (
        hash_embed_col,
        hash_embed_ids,
    )
    from vectorsearch_applications_spark.operators.knn import knn_search

    docs = load_table(spark, SF_SMOKE, "documents").filter(F.col("doc_id") < 200)
    q = _queries(spark)
    two = late_interaction_two_stage(
        docs, q, k=5, n_candidates=20, first_stage="knn"
    )
    demb = hash_embed_ids(docs.select("doc_id", "text"), "doc_id", "text", 16)
    demb = demb.select(F.col("doc_id").alias("vec_id"), "embedding")
    qemb = q.select(
        "query_id", hash_embed_col("query", 16).alias("query_vec")
    )
    cands = knn_search(demb, qemb, k=20).select(
        "query_id", F.col("vec_id").alias("doc_id")
    )
    manual = late_interaction_rerank(docs, q, cands, k=5)
    assert _key(two.collect()) == _key(manual.collect())


def test_two_stage_rejects_unknown_first_stage(spark):
    docs = load_table(spark, SF_SMOKE, "documents").filter(F.col("doc_id") < 50)
    q = _queries(spark)
    with pytest.raises(ValueError):
        late_interaction_two_stage(docs, q, first_stage="hnsw")


def test_two_stage_empty_query_side(spark):
    docs = load_table(spark, SF_SMOKE, "documents").filter(F.col("doc_id") < 50)
    q = _queries(spark).filter(F.lit(False))
    assert late_interaction_two_stage(docs, q, k=5).count() == 0


def test_prune_executes_once_past_the_collect_cap(spark):
    """r10 (verdict task 5): past the take-guard cap the candidate plan
    used to execute THREE times (the cap probe + both plan consumers).
    The LAZY localCheckpoint closes that cliff structurally (eager=True
    was A/B-measured +13% on the below-cap path and rejected —
    late_interaction.py:141): an accumulator inside the candidate
    pipeline counts actual executor passes over the candidate rows —
    exactly one end-to-end, both sides of the cap boundary."""
    docs = load_table(spark, SF_SMOKE, "documents").filter(
        F.col("doc_id") < 120
    )
    q = _queries(spark)
    base = bm25_search(docs, q, limit=20).select("query_id", "doc_id")
    n_cand = base.count()

    def counted(acc):
        def bump(batches):
            for pdf in batches:
                acc.add(len(pdf))
                yield pdf

        return base.mapInPandas(bump, "query_id long, doc_id long")

    for cap in (1, 100_000):  # past the cap / below the cap
        acc = spark.sparkContext.accumulator(0)
        out = late_interaction_rerank(
            docs, q, counted(acc), k=10, max_collect_candidates=cap
        )
        assert len(out.collect()) > 0
        assert acc.value == n_cand, (
            f"cap={cap}: candidate prune ran {acc.value / n_cand:.1f}x — "
            "the checkpoint must make it run exactly once"
        )


def test_past_cap_plan_reads_checkpoint_not_prune_subtree(spark):
    """Past the cap both candidate consumers (doc-side semi-join and
    scoring join) read the materialized checkpoint (ExistingRDD scans)
    — a plan tree whose candidate inputs were still the live BM25 prune
    would show zero checkpoint scans and re-execute the prune per
    consumer (the execution count itself is pinned end-to-end by
    test_prune_executes_once_past_the_collect_cap)."""
    import re

    docs = load_table(spark, SF_SMOKE, "documents").filter(
        F.col("doc_id") < 120
    )
    q = _queries(spark)
    cands = bm25_search(docs, q, limit=20).select("query_id", "doc_id")
    out = late_interaction_rerank(
        docs, q, cands, k=10, max_collect_candidates=1
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"ExistingRDD", plan)) >= 2, (
        "past the cap the candidate side must enter the plan as "
        "checkpoint scans, not as the live prune subtree"
    )

"""Warm work compiles no generated code.

Spark caches the classes it compiles for whole-stage and expression
codegen. ``session.get_spark`` sizes that cache above the working set of
a batch-eval pass and of the facade's interactive pattern, and drops the
per-plan stage id from class names, so repeating either compiles
nothing. The count is JVM-wide: CodegenMetrics' compilation-time
histogram gains one sample per compiled class.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .conftest import SF_SMOKE

EMBED_DIM = 16


def _compiles(spark, fn):
    """(fn(), number of classes compiled while it ran)."""
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    hist = metric.METRIC_COMPILATION_TIME()
    before = hist.getCount()
    out = fn()
    return out, hist.getCount() - before


def _golden(spark, docs, offset: int, n: int = 8):
    """n (query_id, query) rows: the first words of n documents, each
    query's relevant document being the one it came from."""
    from vectorsearch_applications_spark.sources.io import one_slice_df

    rows = (
        docs.orderBy("doc_id")
        .select("doc_id", "text")
        .limit(offset + n)
        .collect()[offset:]
    )
    golden = [(r["doc_id"], " ".join(r["text"].split()[:4])) for r in rows]
    return one_slice_df(spark, golden, "query_id long, query string")


def test_third_batch_eval_pass_compiles_nothing(spark, tmp_path):
    """The operators of one evaluation pass (bm25 with its stats cache,
    kNN, fusion, metrics, rerank, prompts, LLM stub), run three times
    over the same golden set: the third run compiles no class."""
    from vectorsearch_applications_spark.functions.embed import (
        hash_embed_col,
        hash_embed_ids,
    )
    from vectorsearch_applications_spark.operators.bm25 import bm25_search
    from vectorsearch_applications_spark.operators.evaluation import (
        retrieval_metrics,
    )
    from vectorsearch_applications_spark.operators.hybrid import hybrid_search
    from vectorsearch_applications_spark.operators.knn import knn_search
    from vectorsearch_applications_spark.operators.llm import llm_complete
    from vectorsearch_applications_spark.operators.prompts import (
        assemble_prompts,
    )
    from vectorsearch_applications_spark.operators.rerank import rerank_overlap
    from vectorsearch_applications_spark.sources.io import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    cache_key = f"codegen-cache-test:{tmp_path}"
    corpus_vecs = (
        hash_embed_ids(docs.select("doc_id", "text"), "doc_id", "text", EMBED_DIM)
        .select(F.col("doc_id").alias("vec_id"), "embedding")
        .persist()
    )
    qdf = _golden(spark, docs, 0)

    def one_pass():
        kw = bm25_search(docs, qdf, limit=20, cache_key=cache_key)
        qv = qdf.select(
            "query_id", hash_embed_col("query", EMBED_DIM).alias("query_vec")
        )
        vec = knn_search(corpus_vecs, qv, k=20).withColumnRenamed(
            "vec_id", "doc_id"
        )
        fused = hybrid_search(kw, vec, alpha=0.25, limit=10)

        def top(df, method):
            return df.filter(F.col("rank") <= 10).select(
                "query_id", "doc_id", "rank", F.lit(method).alias("method")
            )

        hits = (
            top(kw, "bm25")
            .unionByName(top(vec, "knn"))
            .unionByName(top(fused, "hybrid"))
        )
        golden = qdf.select("query_id", F.col("query_id").alias("relevant_doc_id"))
        metrics = retrieval_metrics(hits, golden, methods=["bm25", "hybrid", "knn"])
        reranked = rerank_overlap(fused, qdf, docs, top_k=3)
        answers = llm_complete(
            assemble_prompts(reranked, docs, qdf)
            .withColumn("system_message", F.lit("Answer from the context."))
            .withColumnRenamed("prompt", "user_message")
        )
        return metrics.collect(), answers.collect()

    try:
        first = one_pass()
        one_pass()
        third, n = _compiles(spark, one_pass)
        assert n == 0
        assert third == first
        assert {r["method"] for r in first[0]} == {"bm25", "hybrid", "knn"}
    finally:
        corpus_vecs.unpersist()


def test_warm_facade_pattern_with_new_queries_compiles_nothing(spark, tmp_path):
    """The interactive facade pattern (hybrid, keyword, hybrid, vector,
    rerank, rag) on a collection with text and IVF indexes, warmed once
    and then run with new query texts: nothing per query is inlined into
    generated code, so the second pattern compiles no class. Every text
    shares terms with the corpus: a query that matches no document lets
    adaptive execution swap its branch for an empty relation, which is a
    different plan with its own (equally finite) set of classes."""
    from vectorsearch_applications_spark.client import SparkSearchClient
    from vectorsearch_applications_spark.sources.io import load_table

    c = SparkSearchClient(spark, str(tmp_path))
    c.create_collection("docs", load_table(spark, SF_SMOKE, "documents"))
    c.build_text_index("docs")
    c.build_ann_index("docs", kind="ivf")

    def pattern(queries):
        h1, k, h2, v, r, a = queries
        return [
            c.hybrid_search("docs", h1, alpha=0.25, limit=10).collect(),
            c.keyword_search("docs", k, limit=10).collect(),
            c.hybrid_search("docs", h2, alpha=0.25, limit=10).collect(),
            c.vector_search("docs", v, limit=10, backend="ivf").collect(),
            c.rerank_search("docs", r, limit=20, top_k=5).collect(),
            c.rag_answer("docs", a, alpha=0.25, limit=5).collect(),
        ]

    warm = pattern(
        [
            "spark join order",
            "vector index scan",
            "query row filter",
            "nearest vector window",
            "hash merge table",
            "how are customer rows grouped",
        ]
    )
    new = [
        "broadcast hash join",
        "stream batch value",
        "column sort key",
        "small slow data",
        "merge window filter",
        "which customer data is big",
    ]
    second, n = _compiles(spark, lambda: pattern(new))
    assert n == 0
    assert all(len(rows) > 0 for rows in warm + second)

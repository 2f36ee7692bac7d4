"""Indexing pipeline (§3.4): chunk → embed → join metadata → write
collection → DDL → point update; batch error budget; incremental BM25
stats merge."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vectorsearch_applications_spark.functions.embed import hash_embed_col
from vectorsearch_applications_spark.operators.bm25 import (
    bm25_build_stats,
    bm25_merge_stats,
)
from vectorsearch_applications_spark.operators.chunking import chunk_tokens
from vectorsearch_applications_spark.operators.windows import expanded_content
from vectorsearch_applications_spark.sources.collections import (
    IndexingError,
    batch_index,
    create_collection,
    describe_collection,
    drop_collection,
    list_collections,
    update_collection,
)
from vectorsearch_applications_spark.sources.io import load_table

from .conftest import SF_SMOKE


def test_create_dataset_pipeline(spark, tmp_path):
    """The reference's create_dataset (§3.4): read → chunk → embed → join
    metadata → write → count check, all as one lazy plan until the write."""
    root = str(tmp_path / "collections")
    docs = load_table(spark, SF_SMOKE, "documents").limit(50)
    chunks = chunk_tokens(docs, chunk_size=16)
    embedded = chunks.withColumn(
        "content_embedding", hash_embed_col("chunk_text", 16)
    )
    # O1: chunk ⋈ episode metadata (broadcast — the dim side is tiny)
    final = embedded.join(
        F.broadcast(docs.select("doc_id", "lang", "source")), "doc_id"
    )
    create_collection(spark, root, "chunks_256", final)
    assert list_collections(root) == ["chunks_256"]
    back = spark.read.parquet(f"{root}/chunks_256")
    assert back.count() == chunks.count() > 50
    schema = dict(describe_collection(spark, root, "chunks_256"))
    assert schema["content_embedding"] == "array<double>"
    assert schema["chunk_id"] == "string"
    drop_collection(root, "chunks_256")
    assert list_collections(root) == []


def test_collection_name_guard(spark, tmp_path):
    docs = load_table(spark, SF_SMOKE, "documents").limit(5)
    with pytest.raises(ValueError):
        create_collection(spark, str(tmp_path), "bad-name", docs)


def test_batch_index_error_budget(spark, tmp_path):
    root = str(tmp_path / "c")
    good = spark.createDataFrame(
        [(i, f"text {i}") for i in range(98)], "doc_id long, text string"
    )
    bad = spark.createDataFrame(
        [(None, "x"), (99, None)],
        "doc_id long, text string",
    )
    # 2% failures > 1% budget → abort
    with pytest.raises(IndexingError):
        batch_index(
            spark, root, "col1", good.unionByName(bad), ["doc_id", "text"]
        )
    # higher budget → good rows indexed, bad quarantined
    res = batch_index(
        spark,
        root,
        "col1",
        good.unionByName(bad),
        ["doc_id", "text"],
        error_threshold=0.05,
    )
    assert res == {"indexed": 98, "quarantined": 2}
    assert spark.read.parquet(f"{root}/col1").count() == 98
    assert spark.read.parquet(f"{root}/col1__quarantine").count() == 2


def test_point_update_expanded_content(spark, tmp_path):
    """S8: the expanded_content backfill as column recompute + overwrite."""
    root = str(tmp_path / "c")
    docs = load_table(spark, SF_SMOKE, "documents").limit(30)
    chunks = chunk_tokens(docs, chunk_size=8)
    create_collection(spark, root, "chunks", chunks)
    update_collection(
        spark,
        root,
        "chunks",
        lambda df: expanded_content(
            df,
            partition_col="doc_id",
            order_col="chunk_index",
            text_col="chunk_text",
            window_size=1,
        ),
    )
    back = spark.read.parquet(f"{root}/chunks")
    assert "expanded_content" in back.columns
    row = (
        back.filter((F.col("doc_id") == back.select("doc_id").first()[0]))
        .orderBy("chunk_index")
        .collect()
    )
    if len(row) >= 2:
        assert row[0]["expanded_content"].endswith(row[1]["chunk_text"])


def test_bm25_incremental_merge(spark):
    docs = load_table(spark, SF_SMOKE, "documents").limit(100)
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    merged = bm25_merge_stats(bm25_build_stats(a), bm25_build_stats(b))
    full = bm25_build_stats(docs)

    def key(df, cols):
        return {tuple(r[c] for c in cols) for r in df.collect()}

    assert key(merged[0], ["doc_id", "term", "tf", "dl"]) == key(
        full[0], ["doc_id", "term", "tf", "dl"]
    )
    assert key(merged[1], ["term", "df"]) == key(full[1], ["term", "df"])
    m, f = merged[2].collect()[0], full[2].collect()[0]
    assert m["n_docs"] == f["n_docs"]
    assert abs(m["avgdl"] - f["avgdl"]) < 1e-9

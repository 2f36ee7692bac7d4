"""Streaming incremental indexing (SURVEY §2.11 design target): new docs
arrive on a stream → chunk + embed in foreachBatch → append to the
collection; BM25 stats maintained incrementally and proven equal to a full
rebuild over everything indexed so far."""

from __future__ import annotations

from pyspark.sql import functions as F

from vectorsearch_applications_spark.functions.embed import hash_embed_col
from vectorsearch_applications_spark.operators.bm25 import (
    bm25_build_stats,
    bm25_merge_stats,
)
from vectorsearch_applications_spark.operators.chunking import chunk_tokens
from vectorsearch_applications_spark.sources.io import load_table

from .conftest import SF_SMOKE


def test_streaming_ingest_appends_collection(spark, tmp_path):
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    src = str(tmp_path / "incoming")
    sink = str(tmp_path / "collection")

    # batch 1 lands before the stream starts; batch 2 arrives mid-stream
    docs.filter(F.col("doc_id") < 30).write.parquet(src + "/b1")
    docs.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 60)).write.parquet(
        src + "/b2"
    )

    def index_batch(batch_df, epoch_id):
        chunks = chunk_tokens(batch_df, chunk_size=16).withColumn(
            "content_embedding", hash_embed_col("chunk_text", 8)
        )
        chunks.write.mode("append").parquet(sink)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(index_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    indexed = spark.read.parquet(sink)
    expect = chunk_tokens(
        docs.filter(F.col("doc_id") < 60), chunk_size=16
    ).count()
    assert indexed.count() == expect
    assert dict(indexed.dtypes)["content_embedding"] == "array<double>"
    # idempotent restart: no new files → no new rows
    q2 = (
        spark.readStream.schema(docs.schema)
        .option("recursiveFileLookup", "true")
        .parquet(src)
        .writeStream.foreachBatch(index_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(sink).count() == expect


def test_incremental_stats_track_stream(spark):
    """Append slices one at a time, merging stats; the merged result must
    equal a cold rebuild over the union at every step."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    slices = [
        docs.filter(F.col("doc_id") < 20),
        docs.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 40)),
        docs.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 70)),
    ]
    state = bm25_build_stats(slices[0])
    indexed = slices[0]
    for s in slices[1:]:
        state = bm25_merge_stats(state, bm25_build_stats(s))
        indexed = indexed.unionByName(s)
        full = bm25_build_stats(indexed)
        got_terms = {
            (r["term"], r["df"]) for r in state[1].collect()
        }
        want_terms = {
            (r["term"], r["df"]) for r in full[1].collect()
        }
        assert got_terms == want_terms
        g, w = state[2].collect()[0], full[2].collect()[0]
        assert g["n_docs"] == w["n_docs"]
        assert abs(g["avgdl"] - w["avgdl"]) < 1e-9


def test_bm25_index_append_matches_rebuild(spark):
    """Appending a slice through the cached index equals rebuilding over
    the full corpus: identical search results, no standing-corpus rescan."""
    import pytest

    from vectorsearch_applications_spark.operators.bm25 import (
        bm25_cache_clear,
        bm25_cached_stats,
        bm25_index_append,
        bm25_search,
    )

    docs = [
        (0, "spark join order and shuffle"),
        (1, "window agg stream state"),
        (2, "fast filter merge sort"),
        (3, "join strategy broadcast shuffle join"),
        (4, "stream window watermark agg"),
        (5, "sorted merge of filtered rows"),
    ]
    base = spark.createDataFrame(docs[:4], "doc_id long, text string")
    extra = spark.createDataFrame(docs[4:], "doc_id long, text string")
    full = spark.createDataFrame(docs, "doc_id long, text string")
    queries = spark.createDataFrame(
        [(0, "shuffle join"), (1, "window agg")], "query_id long, query string"
    )
    bm25_cache_clear()
    try:
        with pytest.raises(KeyError):
            bm25_index_append(extra, "appendtest")
        bm25_cached_stats(base, "appendtest")
        bm25_index_append(extra, "appendtest")
        merged = bm25_search(base, queries, limit=5, cache_key="appendtest")
        rebuilt = bm25_search(full, queries, limit=5)
        m = {(r["query_id"], r["doc_id"], r["rank"], round(r["score"], 9))
             for r in merged.collect()}
        b = {(r["query_id"], r["doc_id"], r["rank"], round(r["score"], 9))
             for r in rebuilt.collect()}
        assert m == b
    finally:
        bm25_cache_clear()


def test_streaming_ivf_assignment_append(spark, tmp_path):
    """ANN index maintenance on a stream: each micro-batch's vectors are
    assigned against the frozen codebook via ivf_append and written to the
    assignment table; the final table equals a batch assignment of
    everything that arrived (the exact invariant ann.ivf_append pins)."""
    from vectorsearch_applications_spark.operators.ann import (
        _assign,
        ivf_build,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    base = emb.filter(F.col("vec_id") < 100)
    centroids, base_assign = ivf_build(base, n_centroids=4)
    centroids = centroids.persist()
    centroids.count()

    src = str(tmp_path / "vecs")
    sink = str(tmp_path / "assign")
    base_assign.write.parquet(sink)
    emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 200)).write.parquet(
        src + "/b1"
    )
    emb.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 300)).write.parquet(
        src + "/b2"
    )

    def assign_batch(batch_df, epoch_id):
        _assign(batch_df, centroids, "vec_id", "embedding").write.mode(
            "append"
        ).parquet(sink)

    q = (
        spark.readStream.schema(emb.schema)
        .option("recursiveFileLookup", "true")
        .parquet(src)
        .writeStream.foreachBatch(assign_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    streamed = {
        (r["vec_id"], r["centroid_id"])
        for r in spark.read.parquet(sink).collect()
    }
    batch = {
        (r["vec_id"], r["centroid_id"])
        for r in _assign(
            emb.filter(F.col("vec_id") < 300), centroids, "vec_id", "embedding"
        ).collect()
    }
    assert streamed == batch and len(streamed) == 300
    centroids.unpersist()


def test_persisted_bm25_index_matches_direct_search(spark, tmp_path):
    """save → load → search from disk == direct in-session search, and the
    indexed search plan reads the saved tables instead of the corpus."""
    from vectorsearch_applications_spark.operators.bm25 import (
        bm25_save_index,
        bm25_search,
        bm25_search_indexed,
    )
    from vectorsearch_applications_spark.sources.io import load_table

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    queries = spark.createDataFrame(
        [(0, "spark join order"), (1, "window agg stream")],
        "query_id long, query string",
    )
    root = str(tmp_path)
    bm25_save_index(docs, root, "docs")
    indexed = bm25_search_indexed(spark, root, "docs", queries, limit=10)
    direct = bm25_search(docs, queries, limit=10)
    a = {(r["query_id"], r["doc_id"], r["rank"]) for r in indexed.collect()}
    b = {(r["query_id"], r["doc_id"], r["rank"]) for r in direct.collect()}
    assert a == b and len(a) == 20
    # the indexed plan must scan the saved index tables, not the corpus
    files = indexed.inputFiles()
    assert files and all("__bm25/" in f for f in files)


def test_persisted_ivf_index_exhaustive_matches_exact(spark, tmp_path):
    from pyspark.sql import functions as F

    from vectorsearch_applications_spark.operators.ann import (
        ivf_save_index,
        ivf_search_indexed,
    )
    from vectorsearch_applications_spark.operators.knn import (
        knn_search_crossjoin,
    )
    from vectorsearch_applications_spark.sources.io import load_table

    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    ivf_save_index(emb, str(tmp_path), "emb", n_centroids=8, refine_iterations=1)
    approx = ivf_search_indexed(
        spark, str(tmp_path), "emb", emb, queries, k=5, nprobe=8
    )
    exact = knn_search_crossjoin(emb, queries, k=5)
    a = {(r["query_id"], r["vec_id"], r["rank"]) for r in approx.collect()}
    e = {(r["query_id"], r["vec_id"], r["rank"]) for r in exact.collect()}
    assert a == e


def test_minhash_index_append_matches_rebuild(spark, tmp_path):
    """r8 (verdict task 2): the dedup index's append==rebuild contract —
    pairs known at standing-index build time ∪ pairs screened from the
    appended batch == a full rebuild over old ∪ new. The standing corpus
    is signed exactly once (minhash_save_index); the batch screens
    against the persisted band table (minhash_index_append) and its band
    rows become part of the standing index for the NEXT batch."""
    from vectorsearch_applications_spark.operators.dedup import (
        minhash_index_append,
        minhash_lsh_pairs,
        minhash_save_index,
    )
    from vectorsearch_applications_spark.sources.index_catalog import index_live
    from vectorsearch_applications_spark.sources.io import load_table

    docs = load_table(spark, SF_SMOKE, "documents").filter(
        F.col("doc_id") < 300
    )
    standing = docs.filter(F.col("doc_id") % 3 != 0)
    batch1 = docs.filter(F.col("doc_id") % 3 == 0).filter(
        F.col("doc_id") % 2 == 0
    )
    batch2 = docs.filter(F.col("doc_id") % 3 == 0).filter(
        F.col("doc_id") % 2 != 0
    )
    root = str(tmp_path)

    minhash_save_index(standing, root, "docs")
    known = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(standing).collect()
    }
    new1 = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_index_append(spark, root, "docs", batch1).collect()
    }
    new2 = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_index_append(spark, root, "docs", batch2).collect()
    }
    rebuilt = {
        (r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(docs).collect()
    }
    # two appends never overlap known pairs, and together they close the
    # gap to the full rebuild — the append path loses and invents nothing
    assert known | new1 | new2 == rebuilt
    assert not (new1 & known) and not (new2 & known) and not (new1 & new2)
    # the persisted band table now covers the whole corpus: the index on
    # disk equals a fresh full build's band table
    from vectorsearch_applications_spark.operators.dedup import minhash_bands

    on_disk = {
        (r["doc_id"], r["band"], r["band_key"])
        for r in index_live(spark, root, "docs", "minhash").collect()
    }
    fresh = {
        (r["doc_id"], r["band"], r["band_key"])
        for r in minhash_bands(docs).collect()
    }
    assert on_disk == fresh


def test_simhash_index_append_matches_rebuild(spark, tmp_path):
    """r8: the SimHash hamming-ball index keeps the same append==rebuild
    contract as MinHash/BM25/IVF — standing corpus fingerprinted once,
    batches screen against the persisted band table, and
    known ∪ screened(b1) ∪ screened(b2) == full rebuild."""
    from vectorsearch_applications_spark.operators.dedup import (
        simhash_index_append,
        simhash_neardup_pairs,
        simhash_save_index,
        simhash_bands,
    )
    from vectorsearch_applications_spark.sources.index_catalog import index_live
    from vectorsearch_applications_spark.sources.io import load_table

    docs = load_table(spark, SF_SMOKE, "documents").filter(
        F.col("doc_id") < 400
    )
    standing = docs.filter(F.col("doc_id") % 3 != 0)
    batch1 = docs.filter(
        (F.col("doc_id") % 3 == 0) & (F.col("doc_id") % 2 == 0)
    )
    batch2 = docs.filter(
        (F.col("doc_id") % 3 == 0) & (F.col("doc_id") % 2 != 0)
    )
    root = str(tmp_path)
    mh = 6  # widen the ball so the fixture actually yields pairs

    simhash_save_index(standing, root, "docs", max_hamming=mh)
    known = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_neardup_pairs(standing, max_hamming=mh).collect()
    }
    new1 = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_index_append(
            spark, root, "docs", batch1, max_hamming=mh
        ).collect()
    }
    new2 = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_index_append(
            spark, root, "docs", batch2, max_hamming=mh
        ).collect()
    }
    rebuilt = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_neardup_pairs(docs, max_hamming=mh).collect()
    }
    assert known | new1 | new2 == rebuilt
    assert not (new1 & known) and not (new2 & known) and not (new1 & new2)
    assert rebuilt  # non-vacuous: the widened ball must find pairs
    on_disk = {
        (r["doc_id"], r["simhash"], r["band"], r["bval"])
        for r in index_live(spark, root, "docs", "simhash").collect()
    }
    fresh = {
        (r["doc_id"], r["simhash"], r["band"], r["bval"])
        for r in simhash_bands(docs, max_hamming=mh).collect()
    }
    assert on_disk == fresh


def test_index_meta_is_authoritative_for_appends(spark, tmp_path):
    """Band-layout parameters persist with the index (the lsh meta
    precedent): an append resolves them from disk, a conflicting
    explicit value raises instead of minting an incompatible layout
    into the standing table, and a pre-meta index (no meta directory)
    still appends under the legacy call-site defaults."""
    import os
    import shutil

    import pytest

    from vectorsearch_applications_spark.operators.dedup import (
        minhash_bands,
        minhash_index_append,
        minhash_save_index,
        simhash_index_append,
        simhash_save_index,
    )
    from vectorsearch_applications_spark.sources.index_catalog import index_live

    docs = load_table(spark, SF_SMOKE, "documents").filter(
        F.col("doc_id") < 200
    )
    standing = docs.filter(F.col("doc_id") % 2 != 0)
    batch = docs.filter(F.col("doc_id") % 2 == 0)
    root = str(tmp_path)

    # non-default layout: 8 hashes in bands of 2
    minhash_save_index(standing, root, "m", num_hashes=8, band_size=2)
    minhash_index_append(spark, root, "m", batch)  # resolves 8/2 from meta
    on_disk = {
        (r["doc_id"], r["band"], r["band_key"])
        for r in index_live(spark, root, "m", "minhash").collect()
    }
    fresh = {
        (r["doc_id"], r["band"], r["band_key"])
        for r in minhash_bands(docs, num_hashes=8, band_size=2).collect()
    }
    assert on_disk == fresh  # the append minted the SAVED layout
    with pytest.raises(ValueError, match="built with num_hashes=8"):
        minhash_index_append(spark, root, "m", batch, num_hashes=16)

    simhash_save_index(standing, root, "s", max_hamming=6)
    with pytest.raises(ValueError, match="built with max_hamming=6"):
        simhash_index_append(spark, root, "s", batch, max_hamming=3)

    # pre-meta index: deleting the meta directory falls back to the
    # legacy defaults instead of failing
    shutil.rmtree(os.path.join(root, "m__minhash", "meta"))
    minhash_save_index(standing, root, "legacy")
    shutil.rmtree(os.path.join(root, "legacy__minhash", "meta"))
    pairs = minhash_index_append(spark, root, "legacy", batch)
    assert pairs.count() >= 0

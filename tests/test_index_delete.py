"""Index delete lifecycle (r9): tombstoned deletes + compaction for the
persisted BM25 / IVF / MinHash / SimHash indexes must be equivalent to
rebuilding on the surviving corpus — the third verb after build and
append (test_incremental_index.py covers append==rebuild)."""

from __future__ import annotations

from pyspark.sql import functions as F

from vectorsearch_applications_spark.operators.ann import (
    _assign,
    ivf_save_index,
    ivf_search_indexed,
)
from vectorsearch_applications_spark.operators.bm25 import (
    bm25_index_delete,
    bm25_save_index,
    bm25_search_indexed,
)
from vectorsearch_applications_spark.operators.dedup import (
    minhash_bands,
    minhash_index_append,
    minhash_save_index,
    minhash_screen_batch,
    simhash_save_index,
)
from vectorsearch_applications_spark.sources.index_catalog import (
    index_compact,
    index_delete,
    index_live,
)
from vectorsearch_applications_spark.sources.io import load_table

from .conftest import SF_SMOKE


def _docs(spark, lo=0, hi=200):
    return (
        load_table(spark, SF_SMOKE, "documents")
        .filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        .select("doc_id", "text")
    )


def _queries(spark):
    return spark.createDataFrame(
        [(0, "spark join order"), (1, "window agg stream")],
        "query_id long, query string",
    )


def test_minhash_delete_equals_rebuild_and_compact(spark, tmp_path):
    root = str(tmp_path)
    docs = _docs(spark)
    survivors = docs.filter(F.col("doc_id") % 5 != 0)
    deleted = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id")
    # the arriving batch duplicates indexed docs (ids offset by 10000) so
    # collisions are guaranteed — including against DELETED originals,
    # which the live view must suppress
    batch = _docs(spark, 0, 60).withColumn(
        "doc_id", F.col("doc_id") + 10000
    )

    minhash_save_index(docs, root, "c")
    n = index_delete(spark, root, "c", "minhash", deleted)
    assert n == deleted.count()
    # replay is a no-op
    assert index_delete(spark, root, "c", "minhash", deleted) == 0

    want = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_screen_batch(
            minhash_bands(survivors), minhash_bands(batch)
        ).collect()
    }
    got = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_screen_batch(
            index_live(spark, root, "c", "minhash"), minhash_bands(batch)
        ).collect()
    }
    assert got == want and want
    # the deletion had teeth: no pair touches a deleted standing doc,
    # though each deleted doc's duplicate IS in the batch
    assert all(
        not (a < 200 and a % 5 == 0) and not (b < 200 and b % 5 == 0)
        for a, b in got
    )

    # compaction folds the tombstones physically: same live view after
    live_before = {
        tuple(r) for r in index_live(spark, root, "c", "minhash").collect()
    }
    kept = index_compact(spark, root, "c", "minhash")
    live_after = {
        tuple(r) for r in index_live(spark, root, "c", "minhash").collect()
    }
    assert live_after == live_before and kept == len(live_after)


def test_minhash_reappend_revives_deleted_doc(spark, tmp_path):
    root = str(tmp_path)
    docs = _docs(spark, 0, 100)
    minhash_save_index(docs, root, "c")
    victim = docs.filter(F.col("doc_id") == 7)
    index_delete(spark, root, "c", "minhash", victim.select("doc_id"))
    assert (
        index_live(spark, root, "c", "minhash")
        .filter(F.col("doc_id") == 7)
        .count()
        == 0
    )
    # re-ingest the same doc: append must clear the tombstone, and the
    # revived doc screens against the standing corpus again
    pairs = minhash_index_append(spark, root, "c", victim)
    assert (
        index_live(spark, root, "c", "minhash")
        .filter(F.col("doc_id") == 7)
        .count()
        > 0
    )
    assert all(r["doc_a"] != r["doc_b"] for r in pairs.collect())


def test_simhash_delete_and_compact(spark, tmp_path):
    root = str(tmp_path)
    docs = _docs(spark, 0, 120)
    simhash_save_index(docs, root, "c")
    deleted = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id")
    assert index_delete(spark, root, "c", "simhash", deleted) == deleted.count()
    live = index_live(spark, root, "c", "simhash")
    assert live.filter(F.col("doc_id") % 3 == 0).count() == 0
    before = {tuple(r) for r in live.collect()}
    index_compact(spark, root, "c", "simhash")
    after = {
        tuple(r) for r in index_live(spark, root, "c", "simhash").collect()
    }
    assert after == before and before


def test_ivf_delete_equals_fixed_codebook_reassign(spark, tmp_path):
    root = str(tmp_path)
    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    ivf_save_index(emb, root, "e", n_centroids=8)
    deleted = emb.filter(F.col("vec_id") % 4 == 0).select("vec_id")
    assert index_delete(spark, root, "e", "ivf", deleted) == deleted.count()

    import os

    centroids = spark.read.parquet(os.path.join(root, "e__ivf", "centroids"))
    survivors = emb.filter(F.col("vec_id") % 4 != 0)
    want = {
        (r["vec_id"], r["centroid_id"])
        for r in _assign(survivors, centroids, "vec_id", "embedding").collect()
    }
    live = spark.read.parquet(os.path.join(root, "e__ivf", "assignments"))
    from vectorsearch_applications_spark.sources.tombstones import (
        apply_tombstones,
    )

    got = {
        (r["vec_id"], r["centroid_id"])
        for r in apply_tombstones(
            spark, os.path.join(root, "e__ivf"), live, "vec_id"
        ).collect()
    }
    assert got == want

    # probes never surface deleted vectors
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    hits = ivf_search_indexed(spark, root, "e", emb, q, k=10, nprobe=8)
    assert all(r["vec_id"] % 4 != 0 for r in hits.collect())

    kept = index_compact(spark, root, "e", "ivf")
    assert kept == len(want)


def test_bm25_delete_equals_rebuild_on_survivors(spark, tmp_path):
    root = str(tmp_path)
    docs = _docs(spark)
    survivors = docs.filter(F.col("doc_id") % 5 != 0)
    deleted = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id")

    bm25_save_index(docs, root, "full")
    assert bm25_index_delete(spark, root, "full", deleted) == deleted.count()
    # replay corrects nothing twice
    assert bm25_index_delete(spark, root, "full", deleted) == 0

    bm25_save_index(survivors, root, "fresh")
    q = _queries(spark)

    def res(name):
        return {
            (r["query_id"], r["doc_id"], round(r["score"], 6))
            for r in bm25_search_indexed(
                spark, root, name, q, limit=10
            ).collect()
        }

    # scores match the survivor rebuild (avgdl un-average vs avg() may
    # differ in final ulps → compare rounded; df/n_docs are integer-exact)
    assert res("full") == res("fresh")

    import os

    full_terms = {
        (r["term"], r["df"])
        for r in spark.read.parquet(
            os.path.join(root, "full__bm25", "term_stats")
        ).collect()
    }
    fresh_terms = {
        (r["term"], r["df"])
        for r in spark.read.parquet(
            os.path.join(root, "fresh__bm25", "term_stats")
        ).collect()
    }
    assert full_terms == fresh_terms
    (fc,) = spark.read.parquet(
        os.path.join(root, "full__bm25", "corpus_stats")
    ).collect()
    (rc,) = spark.read.parquet(
        os.path.join(root, "fresh__bm25", "corpus_stats")
    ).collect()
    assert fc["n_docs"] == rc["n_docs"]
    assert abs(fc["avgdl"] - rc["avgdl"]) < 1e-9

    # compaction preserves search results and drops the tombstone join
    index_compact(spark, root, "full", "bm25")
    assert res("full") == res("fresh")


def test_path_not_found_detection_uses_error_condition(spark, tmp_path):
    """The installed Spark raises PATH_NOT_FOUND as the condition for a
    missing parquet path, and a missing tombstone directory reads as
    None (nothing ever deleted)."""
    import pytest
    from pyspark.errors import AnalysisException

    from vectorsearch_applications_spark.sources.tombstones import (
        load_tombstones,
    )

    missing = str(tmp_path / "never_written")
    with pytest.raises(AnalysisException) as exc:
        spark.read.parquet(missing + "/tombstones").collect()
    ex = exc.value
    cond = (ex.getCondition() if hasattr(ex, "getCondition")
            else ex.getErrorClass())
    assert cond == "PATH_NOT_FOUND"  # the installed Spark's condition
    assert load_tombstones(spark, missing, "doc_id") is None


def test_unreadable_tombstones_directory_raises(spark, tmp_path):
    """Only a MISSING tombstone directory means "nothing deleted": a
    present one whose files are not parquet must raise, never read as
    None — None would resurrect every deleted row in the live views."""
    import pytest

    from vectorsearch_applications_spark.sources.tombstones import (
        load_tombstones,
    )

    tomb = tmp_path / "idx" / "tombstones"
    tomb.mkdir(parents=True)
    (tomb / "part-00000.parquet").write_text("not a parquet file")
    with pytest.raises(Exception) as exc:
        load_tombstones(spark, str(tmp_path / "idx"), "doc_id").collect()
    assert "parquet" in str(exc.value).lower()


def test_bm25_save_index_empty_corpus_completes(spark, tmp_path):
    """A zero-postings build (empty slice, or every text token-less)
    must complete and leave a coherent layout — not die with
    UNABLE_TO_INFER_SCHEMA after the postings write (r11 review: the
    term_stats read-back needs the writer's schema, because a
    partitionBy write of zero rows emits no schema-bearing part file)."""
    import os

    from vectorsearch_applications_spark.operators.bm25 import (
        bm25_index_n_buckets,
    )

    root = str(tmp_path)
    empty = spark.createDataFrame([], "doc_id long, text string")
    base = bm25_save_index(empty, root, "edge")
    assert os.path.isdir(os.path.join(base, "postings"))
    assert spark.read.parquet(os.path.join(base, "term_stats")).count() == 0
    cs = spark.read.parquet(os.path.join(base, "corpus_stats")).collect()
    assert len(cs) == 1 and cs[0]["n_docs"] == 0
    assert bm25_index_n_buckets(spark, root, "edge") == 1

    # the same name REBUILDS cleanly over real docs and is searchable
    docs = spark.createDataFrame(
        [(0, "spark join shuffle"), (1, "window agg state")],
        "doc_id long, text string",
    )
    bm25_save_index(docs, root, "edge")
    queries = spark.createDataFrame(
        [(0, "shuffle join")], "query_id long, query string"
    )
    rows = bm25_search_indexed(spark, root, "edge", queries, limit=5).collect()
    assert [r["doc_id"] for r in rows] == [0]

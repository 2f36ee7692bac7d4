"""Ingest-time near-dup screening (streaming/dedup.py): the per-row band
projection must equal the batch band build, and the streamed screen must
equal the batch screen's new-vs-standing half over the same corpus."""

from __future__ import annotations

from pyspark.sql import functions as F

from vectorsearch_applications_spark.operators.dedup import (
    minhash_bands,
    minhash_bands_projection,
    minhash_screen_batch,
    simhash_bands,
    simhash_bands_projection,
    simhash_fingerprints,
    simhash_fingerprints_projection,
    simhash_screen_batch,
)
from vectorsearch_applications_spark.sources.io import load_table
from vectorsearch_applications_spark.streaming.dedup import (
    stream_minhash_screen,
    stream_simhash_screen,
)

from .conftest import SF_SMOKE

DOCS_SCHEMA = "doc_id long, text string"


def test_band_projection_equals_batch_build(spark):
    # value-identity of the two physical shapes over the real corpus,
    # including docs below the shingle bar (both must drop them)
    docs = load_table(spark, SF_SMOKE, "documents").filter(
        F.col("doc_id") < 300
    )
    batch = {
        (r["doc_id"], r["band"], r["band_key"])
        for r in minhash_bands(docs).collect()
    }
    proj = {
        (r["doc_id"], r["band"], r["band_key"])
        for r in minhash_bands_projection(docs).collect()
    }
    assert proj == batch and batch


def test_band_projection_null_text_emits_nothing(spark):
    # r9 advice fix: NULL text must emit ZERO band rows (the batch
    # shape's pre-explode filter drops such docs); before the null-safe
    # guard every null-text doc emitted n_bands rows keyed md5('') and
    # falsely collided with every other null-text doc
    docs = spark.createDataFrame(
        [(1, None), (2, "alpha beta gamma delta epsilon"), (3, None)],
        DOCS_SCHEMA,
    )
    proj = minhash_bands_projection(docs).collect()
    assert {r["doc_id"] for r in proj} == {2}
    batch = {
        (r["doc_id"], r["band"], r["band_key"])
        for r in minhash_bands(docs).collect()
    }
    assert {(r["doc_id"], r["band"], r["band_key"]) for r in proj} == batch


def test_stream_screen_suppresses_self_pairs(spark):
    # at-least-once redelivery: a doc already in the standing index must
    # not emit (x, x) evidence rows when it arrives again — only true
    # cross-doc collisions survive
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
        ],
        DOCS_SCHEMA,
    )
    standing = minhash_bands(docs)
    # redeliver both docs; stream_minhash_screen is a stateless
    # projection + join, so a batch frame exercises the same plan
    out = stream_minhash_screen(docs, standing).collect()
    assert out, "near-identical docs should collide in some band"
    assert all(r["new_doc_id"] != r["standing_doc_id"] for r in out)


def test_stream_screen_equals_batch_new_vs_standing(spark, tmp_path):
    docs = load_table(spark, SF_SMOKE, "documents").filter(
        F.col("doc_id") < 300
    )
    standing = docs.filter(F.col("doc_id") % 2 != 0)
    batch = docs.filter(F.col("doc_id") % 2 == 0)
    standing_bands = minhash_bands(standing).localCheckpoint(eager=False)

    # batch truth: the screen's pairs that have one standing (odd) side
    want = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_screen_batch(
            standing_bands, minhash_bands(batch)
        ).collect()
        if r["doc_a"] % 2 != r["doc_b"] % 2
    }

    src = str(tmp_path / "docs")
    # the batch arrives as two files → two micro-batches
    batch.filter(F.col("doc_id") < 150).select("doc_id", "text").write.parquet(
        src + "/b1"
    )
    batch.filter(F.col("doc_id") >= 150).select(
        "doc_id", "text"
    ).write.parquet(src + "/b2")
    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    out = stream_minhash_screen(stream, standing_bands)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_screen_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    got_rows = spark.sql("SELECT * FROM dedup_screen_stream").collect()
    got = {
        (min(r["new_doc_id"], r["standing_doc_id"]),
         max(r["new_doc_id"], r["standing_doc_id"]))
        for r in got_rows
    }
    assert got == want
    # evidence rows are per-band: multiplicity ≥ the distinct pair count
    assert len(got_rows) >= len(got)


# --- SimHash twins (r9) ---


def test_simhash_projection_equals_batch_build(spark):
    # fingerprints AND band rows: value-identity of the per-row
    # projection with the explode+vocab+groupBy batch shape, including
    # NULL/empty/token-less docs (both must drop them)
    docs = load_table(spark, SF_SMOKE, "documents").filter(
        F.col("doc_id") < 300
    )
    extra = spark.createDataFrame(
        [(9001, None), (9002, ""), (9003, "alpha beta beta gamma")],
        DOCS_SCHEMA,
    )
    docs = docs.select("doc_id", "text").unionByName(extra)
    fb = {tuple(r) for r in simhash_fingerprints(docs).collect()}
    fp = {tuple(r) for r in simhash_fingerprints_projection(docs).collect()}
    assert fp == fb and fb
    assert not any(d in (9001, 9002) for d, _ in fp)
    bb = {tuple(r) for r in simhash_bands(docs).collect()}
    bp = {tuple(r) for r in simhash_bands_projection(docs).collect()}
    assert bp == bb


def test_stream_simhash_screen_suppresses_self_pairs(spark):
    # docs 1 and 2 are exact duplicates (hamming 0); redelivering both
    # against a standing index containing both must emit ONLY the
    # cross-doc pair, never (x, x) self-evidence
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
        ],
        DOCS_SCHEMA,
    )
    standing = simhash_bands(docs)
    out = stream_simhash_screen(docs, standing).collect()
    assert out, "exact duplicates must fall in the hamming ball"
    assert all(r["new_doc_id"] != r["standing_doc_id"] for r in out)
    assert all(r["hamming"] == 0 for r in out)


def test_stream_simhash_screen_equals_batch_new_vs_standing(spark, tmp_path):
    docs = load_table(spark, SF_SMOKE, "documents").filter(
        F.col("doc_id") < 100
    ).select("doc_id", "text")
    # duplicated corpus so the hamming ball is populated
    withdups = docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + 1000000)
    )
    standing = withdups.filter(F.col("doc_id") % 2 != 0)
    batch = withdups.filter(F.col("doc_id") % 2 == 0)
    standing_bands = simhash_bands(standing).localCheckpoint(eager=False)

    want = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_screen_batch(
            standing_bands, simhash_bands(batch)
        ).collect()
        if r["doc_a"] % 2 != r["doc_b"] % 2
    }

    src = str(tmp_path / "docs")
    batch.filter(F.col("doc_id") < 1000000).write.parquet(src + "/b1")
    batch.filter(F.col("doc_id") >= 1000000).write.parquet(src + "/b2")
    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    out = stream_simhash_screen(stream, standing_bands)
    q = (
        out.writeStream.format("memory")
        .queryName("simhash_screen_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    got_rows = spark.sql("SELECT * FROM simhash_screen_stream").collect()
    got = {
        (min(r["new_doc_id"], r["standing_doc_id"]),
         max(r["new_doc_id"], r["standing_doc_id"]),
         r["hamming"])
        for r in got_rows
    }
    assert got == want and want
    # evidence rows are per-band: multiplicity ≥ the distinct pair count
    assert len(got_rows) >= len(got)


# --- Semantic (embedding) twin (r9) ---


def _sem_fixtures(spark):
    from vectorsearch_applications_spark.operators.ann import (
        assign_nearest_centroid,
        ivf_build,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    # duplicated ids give guaranteed sim=1.0 pairs across the split;
    # the ODD offset flips parity so each vector's twin lands on the
    # OTHER side of the odd/even standing-vs-batch split
    withdups = emb.unionByName(
        emb.withColumn("vec_id", F.col("vec_id") + 1000001)
    )
    centroids, _ = ivf_build(emb, n_centroids=8)
    centroids = centroids.localCheckpoint(eager=False)
    standing = withdups.filter(F.col("vec_id") % 2 != 0)
    batch = withdups.filter(F.col("vec_id") % 2 == 0)
    standing_idx = assign_nearest_centroid(
        standing, centroids, keep_vec=True
    ).localCheckpoint(eager=False)
    return withdups, centroids, standing, batch, standing_idx


def test_stream_semantic_screen_suppresses_self_pairs(spark):
    from vectorsearch_applications_spark.operators.ann import (
        assign_nearest_centroid,
        ivf_build,
    )
    from vectorsearch_applications_spark.streaming.dedup import (
        stream_semantic_screen,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    ).filter(F.col("vec_id") < 200)
    centroids, _ = ivf_build(emb, n_centroids=4)
    standing = assign_nearest_centroid(emb, centroids, keep_vec=True)
    # redeliver the SAME vectors: every true self-match (sim 1.0) must
    # be suppressed; surviving rows are genuine cross-vector near-dups
    out = stream_semantic_screen(
        emb, standing, centroids, threshold=0.99
    ).collect()
    assert all(r["new_vec_id"] != r["standing_vec_id"] for r in out)


def test_stream_semantic_screen_equals_batch_new_vs_standing(
    spark, tmp_path
):
    from vectorsearch_applications_spark.operators.ann import (
        assign_nearest_centroid,
    )
    from vectorsearch_applications_spark.streaming.dedup import (
        stream_semantic_screen,
    )

    _, centroids, standing, batch, standing_idx = _sem_fixtures(spark)

    # batch truth: assign the batch with the SAME centroids, join within
    # centroid against the standing assignment, threshold, no self-pairs
    new_idx = assign_nearest_centroid(batch, centroids, keep_vec=True)
    want = {
        (r["new_vec_id"], r["standing_vec_id"], round(r["sim"], 9))
        for r in stream_semantic_screen(
            batch, standing_idx, centroids, threshold=0.9
        ).collect()
    }
    assert want, "duplicated ids across the split must collide at 1.0"
    # exact duplicates land in the same centroid and survive at sim 1.0
    assert any(
        abs(a - b) == 1000001 and s >= 0.999 for a, b, s in want
    )

    src = str(tmp_path / "vecs")
    batch.filter(F.col("vec_id") < 1000001).write.parquet(src + "/b1")
    batch.filter(F.col("vec_id") >= 1000001).write.parquet(src + "/b2")
    stream = (
        spark.readStream.schema(batch.schema)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    out = stream_semantic_screen(
        stream, standing_idx, centroids, threshold=0.9
    )
    q = (
        out.writeStream.format("memory")
        .queryName("semantic_screen_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    got = {
        (r["new_vec_id"], r["standing_vec_id"], round(r["sim"], 9))
        for r in spark.sql("SELECT * FROM semantic_screen_stream").collect()
    }
    assert got == want


def test_stream_semantic_screen_reads_persisted_index(spark, tmp_path):
    """The persisted lifecycle and the streaming screen compose: the
    standing side of stream_semantic_screen can be the semantic index's
    live view (stored `embedding` column, tombstones applied) with the
    codebook from semantic_load_centroids — a deleted standing vector
    stops colliding with arrivals immediately."""
    from vectorsearch_applications_spark.operators.ann import (
        assign_nearest_centroid,
    )
    from vectorsearch_applications_spark.operators.dedup import (
        semantic_load_centroids,
        semantic_save_index,
    )
    from vectorsearch_applications_spark.sources.index_catalog import (
        index_delete,
        index_live,
    )
    from vectorsearch_applications_spark.streaming.dedup import (
        stream_semantic_screen,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    standing = emb.filter(F.col("vec_id") < 100)
    cents = standing.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    root = str(tmp_path)
    semantic_save_index(standing, cents, root, "c")
    # arrivals duplicate standing ids 2 and 4 exactly
    batch = standing.filter(F.col("vec_id").isin([2, 4])).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    saved_cents = semantic_load_centroids(spark, root, "c")
    live = index_live(spark, root, "c", "semantic")
    want = {
        (r["new_vec_id"], r["standing_vec_id"])
        for r in stream_semantic_screen(
            batch, live, saved_cents, threshold=0.999
        ).collect()
    }
    assert {(1000002, 2), (1000004, 4)} <= want
    # in-memory standing gives the identical evidence set
    mem = assign_nearest_centroid(standing, cents, keep_vec=True)
    assert want == {
        (r["new_vec_id"], r["standing_vec_id"])
        for r in stream_semantic_screen(
            batch, mem, cents, threshold=0.999
        ).collect()
    }
    # tombstoning vec 2 removes its collisions from the live view
    index_delete(
        spark, root, "c", "semantic",
        standing.filter(F.col("vec_id") == 2).select("vec_id"),
    )
    after = {
        (r["new_vec_id"], r["standing_vec_id"])
        for r in stream_semantic_screen(
            batch,
            index_live(spark, root, "c", "semantic"),
            saved_cents,
            threshold=0.999,
        ).collect()
    }
    assert (1000004, 4) in after
    assert not any(s == 2 for _, s in after)

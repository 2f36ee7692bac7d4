"""PQ and LSH persisted-index lifecycle (r9): the last two index
families gain the full build / append / delete / compact verb set the
BM25 / IVF / MinHash / SimHash indexes already keep
(test_incremental_index.py, test_index_delete.py).

Contracts under test:
- LSH: append == rebuild EXACTLY (hyperplanes are data-independent);
  indexed search == the in-plan lsh_search on the same corpus.
- PQ: append == encoding the FULL corpus with the same frozen codebook
  (the standard PQ maintenance contract — NOT equal to a retrained
  rebuild, which is the periodic-maintenance job, as for IVF centroids).
- Both: delete == searching the survivor-encoded index, replay-
  idempotent; compact == the tombstone view; re-append revives.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from vectorsearch_applications_spark.operators.lsh import (
    lsh_index_append,
    lsh_planes,
    lsh_save_index,
    lsh_search,
    lsh_search_indexed,
)
from vectorsearch_applications_spark.operators.pq import (
    ivfpq_search_indexed,
    pq_adc_search,
    pq_codebook,
    pq_encode,
    pq_index_append,
    pq_save_index,
    pq_search_indexed,
)
from vectorsearch_applications_spark.sources.index_catalog import (
    index_compact,
    index_delete,
    index_live,
)
from vectorsearch_applications_spark.sources.io import load_table

from .conftest import SF_SMOKE


def _emb(spark, pred=None):
    df = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    return df.filter(pred) if pred is not None else df


def _queries(spark):
    return (
        load_table(spark, SF_SMOKE, "embeddings")
        .filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------------- LSH


def test_lsh_append_equals_rebuild_exact(spark, tmp_path):
    root = str(tmp_path)
    full = _emb(spark)
    standing = full.filter(F.col("vec_id") % 2 == 1)
    batch = full.filter(F.col("vec_id") % 2 == 0)

    lsh_save_index(standing, root, "c")
    n = lsh_index_append(spark, root, "c", batch)
    assert n == batch.count()

    got = lsh_search_indexed(spark, root, "c", _queries(spark), k=10)
    want = lsh_search(full, _queries(spark), lsh_planes(4, 64), k=10)
    assert _rows(got) == _rows(want)


def test_lsh_indexed_multiprobe_matches_inplan(spark, tmp_path):
    root = str(tmp_path)
    full = _emb(spark)
    lsh_save_index(full, root, "c")
    got = lsh_search_indexed(
        spark, root, "c", _queries(spark), k=10, multiprobe=1
    )
    want = lsh_search(
        full, _queries(spark), lsh_planes(4, 64), k=10, multiprobe=1
    )
    assert _rows(got) == _rows(want)


def test_lsh_delete_compact_revive(spark, tmp_path):
    root = str(tmp_path)
    full = _emb(spark)
    survivors = full.filter(F.col("vec_id") % 5 != 0)
    deleted = full.filter(F.col("vec_id") % 5 == 0).select("vec_id")

    lsh_save_index(full, root, "c")
    n = index_delete(spark, root, "c", "lsh", deleted)
    assert n == deleted.count()
    # replay is a no-op
    assert index_delete(spark, root, "c", "lsh", deleted) == 0

    want = lsh_search(survivors, _queries(spark), lsh_planes(4, 64), k=10)
    got = lsh_search_indexed(spark, root, "c", _queries(spark), k=10)
    assert _rows(got) == _rows(want)

    # compaction preserves the live view
    kept = index_compact(spark, root, "c", "lsh")
    assert kept == survivors.count()
    got2 = lsh_search_indexed(spark, root, "c", _queries(spark), k=10)
    assert _rows(got2) == _rows(want)

    # re-appending a deleted id revives it
    revived = full.filter(F.col("vec_id") == 0)
    index_delete(spark, root, "c", "lsh", revived.select("vec_id"))
    lsh_index_append(spark, root, "c", revived)
    got3 = lsh_search_indexed(spark, root, "c", _queries(spark), k=10)
    want3 = lsh_search(
        survivors.unionByName(revived),
        _queries(spark),
        lsh_planes(4, 64),
        k=10,
    )
    assert _rows(got3) == _rows(want3)


def test_lsh_bucket_table_partitioned_on_disk(spark, tmp_path):
    import os

    root = str(tmp_path)
    lsh_save_index(_emb(spark), root, "c")
    subdirs = [
        d
        for d in os.listdir(os.path.join(root, "c__lsh", "buckets"))
        if d.startswith("bucket=")
    ]
    assert len(subdirs) > 1  # probe-time partition pruning is real


# ----------------------------------------------------------------- PQ


def test_pq_append_equals_frozen_codebook_encode(spark, tmp_path):
    root = str(tmp_path)
    full = _emb(spark)
    standing = full.filter(F.col("vec_id") % 2 == 1)
    batch = full.filter(F.col("vec_id") % 2 == 0)

    pq_save_index(standing, root, "c")
    n = pq_index_append(spark, root, "c", batch)
    assert n == batch.count()

    # oracle: the STANDING corpus's codebook encodes everything
    cb = pq_codebook(standing)
    want = pq_adc_search(pq_encode(full, cb), cb, _queries(spark), k=10)
    got = pq_search_indexed(spark, root, "c", _queries(spark), k=10)
    assert _rows(got) == _rows(want)


def test_pq_ivfadc_append_lands_in_buckets(spark, tmp_path):
    import os

    from vectorsearch_applications_spark.operators.ann import ivf_build

    root = str(tmp_path)
    full = _emb(spark)
    standing = full.filter(F.col("vec_id") % 2 == 1)
    batch = full.filter(F.col("vec_id") % 2 == 0)

    centroids, _ = ivf_build(standing, n_centroids=4)
    pq_save_index(standing, root, "c", centroids=centroids)
    pq_index_append(spark, root, "c", batch)

    codes_dir = os.path.join(root, "c__pq", "codes")
    assert any(d.startswith("centroid_id=") for d in os.listdir(codes_dir))
    # every appended row landed with a centroid assignment
    codes = spark.read.parquet(codes_dir)
    assert codes.filter(F.col("centroid_id").isNull()).count() == 0
    assert codes.count() == full.count()

    # the probed search still runs end-to-end over old ∪ new
    hits = ivfpq_search_indexed(
        spark, root, "c", _queries(spark), k=5, nprobe=2
    )
    assert hits.groupBy("query_id").count().filter(
        F.col("count") != 5
    ).count() == 0


def test_pq_delete_compact_revive(spark, tmp_path):
    root = str(tmp_path)
    full = _emb(spark)
    survivors = full.filter(F.col("vec_id") % 5 != 0)
    deleted = full.filter(F.col("vec_id") % 5 == 0).select("vec_id")

    pq_save_index(full, root, "c")
    n = index_delete(spark, root, "c", "pq", deleted)
    assert n == deleted.count()
    assert index_delete(spark, root, "c", "pq", deleted) == 0

    cb = pq_codebook(full)
    want = pq_adc_search(pq_encode(survivors, cb), cb, _queries(spark), k=10)
    got = pq_search_indexed(spark, root, "c", _queries(spark), k=10)
    assert _rows(got) == _rows(want)

    kept = index_compact(spark, root, "c", "pq")
    assert kept == survivors.count()
    assert _rows(
        pq_search_indexed(spark, root, "c", _queries(spark), k=10)
    ) == _rows(want)

    # revival: re-append one deleted id; it scores again (frozen codebook)
    revived = full.filter(F.col("vec_id") == 0)
    index_delete(spark, root, "c", "pq", revived.select("vec_id"))
    pq_index_append(spark, root, "c", revived)
    want3 = pq_adc_search(
        pq_encode(survivors.unionByName(revived), cb),
        cb,
        _queries(spark),
        k=10,
    )
    assert _rows(
        pq_search_indexed(spark, root, "c", _queries(spark), k=10)
    ) == _rows(want3)


def test_lsh_revive_changed_vector_no_stale_rows(spark, tmp_path):
    """delete → re-append with CHANGED content, WITHOUT an intervening
    manual compaction: the append must not resurrect the id's stale rows
    (compact_if_reviving) — a ranked search would otherwise emit the id
    twice, once under its old vector."""
    from vectorsearch_applications_spark.operators.lsh import lsh_load_index

    root = str(tmp_path)
    full = _emb(spark)
    lsh_save_index(full, root, "c")
    victim = full.filter(F.col("vec_id") == 0)
    index_delete(spark, root, "c", "lsh", victim.select("vec_id"))
    changed = victim.withColumn(
        "embedding", F.transform("embedding", lambda x: -x)
    )
    lsh_index_append(spark, root, "c", changed)

    buckets, _ = lsh_load_index(spark, root, "c")
    assert buckets.filter(F.col("vec_id") == 0).count() == 1

    want = lsh_search(
        full.filter(F.col("vec_id") != 0).unionByName(changed),
        _queries(spark),
        lsh_planes(4, 64),
        k=10,
    )
    got = lsh_search_indexed(spark, root, "c", _queries(spark), k=10)
    assert _rows(got) == _rows(want)


def test_pq_revive_changed_vector_no_stale_codes(spark, tmp_path):
    root = str(tmp_path)
    full = _emb(spark)
    pq_save_index(full, root, "c")
    victim = full.filter(F.col("vec_id") == 0)
    index_delete(spark, root, "c", "pq", victim.select("vec_id"))
    changed = victim.withColumn(
        "embedding", F.transform("embedding", lambda x: -x)
    )
    pq_index_append(spark, root, "c", changed)

    assert index_live(spark, root, "c", "pq").filter(
        F.col("vec_id") == 0
    ).count() == 1

    cb = pq_codebook(full)  # frozen at save time
    want = pq_adc_search(
        pq_encode(
            full.filter(F.col("vec_id") != 0).unionByName(changed), cb
        ),
        cb,
        _queries(spark),
        k=10,
    )
    got = pq_search_indexed(spark, root, "c", _queries(spark), k=10)
    assert _rows(got) == _rows(want)


# ------------------------------------------- IVF / BM25 on-disk appends


def test_ivf_index_append_matches_frozen_centroid_rebuild(spark, tmp_path):
    """The on-disk IVF append (new in r9 — the frame-level ivf_append
    already existed): assignments for the appended slice land against
    the FROZEN saved centroids, so indexed search == searching an
    assignment table built over the full corpus with those centroids."""
    from vectorsearch_applications_spark.operators.ann import (
        _assign,
        ivf_index_append,
        ivf_save_index,
        ivf_search,
        ivf_search_indexed,
    )

    root = str(tmp_path)
    full = _emb(spark)
    standing = full.filter(F.col("vec_id") % 2 == 1)
    batch = full.filter(F.col("vec_id") % 2 == 0)

    ivf_save_index(standing, root, "c", n_centroids=4)
    n = ivf_index_append(spark, root, "c", batch)
    assert n == batch.count()

    centroids = spark.read.parquet(f"{root}/c__ivf/centroids")
    want = ivf_search(
        full,
        centroids,
        _assign(full, centroids, "vec_id", "embedding"),
        _queries(spark),
        k=10,
        nprobe=2,
    )
    got = ivf_search_indexed(
        spark, root, "c", full, _queries(spark), k=10, nprobe=2
    )
    assert _rows(got) == _rows(want)

    # changed-content revival: no stale assignment row survives
    victim = full.filter(F.col("vec_id") == 0)
    index_delete(spark, root, "c", "ivf", victim.select("vec_id"))
    changed = victim.withColumn(
        "embedding", F.transform("embedding", lambda x: -x)
    )
    ivf_index_append(spark, root, "c", changed)
    asg = spark.read.parquet(f"{root}/c__ivf/assignments")
    assert asg.filter(F.col("vec_id") == 0).count() == 1


def test_bm25_persisted_append_matches_rebuild(spark, tmp_path):
    """On-disk BM25 append == re-saving the index over the full corpus:
    postings append, the tiny term/corpus stats files rewrite via the
    merge math, and indexed search results are identical."""
    from vectorsearch_applications_spark.operators.bm25 import (
        bm25_index_append_persisted,
        bm25_save_index,
        bm25_search_indexed,
    )

    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )
    queries = spark.createDataFrame(
        [(0, "spark join order"), (1, "window agg stream")],
        "query_id long, query string",
    )
    root = str(tmp_path)
    standing = docs.filter(F.col("doc_id") % 2 == 1)
    batch = docs.filter(F.col("doc_id") % 2 == 0)

    bm25_save_index(standing, root, "a")
    n = bm25_index_append_persisted(spark, root, "a", batch)
    assert 0 < n <= batch.count()
    bm25_save_index(docs, root, "b")  # full rebuild

    got = bm25_search_indexed(spark, root, "a", queries, limit=10)
    want = bm25_search_indexed(spark, root, "b", queries, limit=10)
    assert _rows(got) == _rows(want)


def test_bm25_persisted_append_revive_no_stale_postings(spark, tmp_path):
    from vectorsearch_applications_spark.operators.bm25 import (
        bm25_index_append_persisted,
        bm25_index_delete,
        bm25_save_index,
        bm25_search_indexed,
    )

    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )
    queries = spark.createDataFrame(
        [(0, "spark join order"), (1, "window agg stream")],
        "query_id long, query string",
    )
    root = str(tmp_path)
    bm25_save_index(docs, root, "a")
    victim = docs.filter(F.col("doc_id") == 7)
    bm25_index_delete(spark, root, "a", victim.select("doc_id"))
    # re-ingest with CHANGED text; stale postings must not resurrect
    changed = victim.withColumn(
        "text", F.concat(F.lit("spark join order twist "), F.col("text"))
    )
    bm25_index_append_persisted(spark, root, "a", changed)

    postings = spark.read.parquet(f"{root}/a__bm25/postings")
    # exactly one postings row per (doc 7, term): the old rows compacted
    assert (
        postings.filter(F.col("doc_id") == 7)
        .groupBy("term")
        .count()
        .filter(F.col("count") > 1)
        .count()
        == 0
    )
    # equivalence with a fresh save over survivors ∪ changed
    bm25_save_index(
        docs.filter(F.col("doc_id") != 7).unionByName(changed), root, "b"
    )
    got = bm25_search_indexed(spark, root, "a", queries, limit=10)
    want = bm25_search_indexed(spark, root, "b", queries, limit=10)
    assert _rows(got) == _rows(want)


def test_streaming_lsh_index_append(spark, tmp_path):
    """Stream-ingest maintenance of the persisted LSH index: each
    micro-batch appends via lsh_index_append (foreachBatch), and because
    the planes are data-independent the final index searches EXACTLY
    like a one-shot build over everything that arrived."""
    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    root = str(tmp_path)
    lsh_save_index(emb.filter(F.col("vec_id") < 100), root, "c")

    src = str(tmp_path / "vecs")
    emb.filter(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 200)
    ).write.parquet(src + "/b1")
    emb.filter(
        (F.col("vec_id") >= 200) & (F.col("vec_id") < 300)
    ).write.parquet(src + "/b2")

    def append_batch(batch_df, epoch_id):
        lsh_index_append(spark, root, "c", batch_df)

    q = (
        spark.readStream.schema(emb.schema)
        .option("recursiveFileLookup", "true")
        .parquet(src)
        .writeStream.foreachBatch(append_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    got = lsh_search_indexed(spark, root, "c", _queries(spark), k=10)
    want = lsh_search(
        emb.filter(F.col("vec_id") < 300),
        _queries(spark),
        lsh_planes(4, 64),
        k=10,
    )
    assert _rows(got) == _rows(want)


def test_index_inventory_reports_families_and_tombstone_debt(
    spark, tmp_path
):
    from vectorsearch_applications_spark.operators.bm25 import (
        bm25_save_index,
    )
    from vectorsearch_applications_spark.sources.index_catalog import (
        index_inventory,
    )

    root = str(tmp_path)
    emb = _emb(spark)
    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", "text")
    )
    lsh_save_index(emb, root, "vecs")
    pq_save_index(emb, root, "vecs")
    bm25_save_index(docs, root, "docs")
    index_delete(
        spark, root, "vecs", "lsh",
        emb.filter(F.col("vec_id") < 10).select("vec_id"),
    )

    inv = {
        (r["collection"], r["family"]): r
    for r in index_inventory(spark, root).collect()}
    assert set(inv) == {("vecs", "lsh"), ("vecs", "pq"), ("docs", "bm25")}

    lsh = inv[("vecs", "lsh")]
    assert lsh["needs_compaction"] and lsh["tombstoned_ids"] == 10
    assert lsh["live_rows"] == lsh["rows"] - 10  # 1 bucket row per vector

    assert not inv[("vecs", "pq")]["needs_compaction"]
    assert inv[("vecs", "pq")]["rows"] == inv[("vecs", "pq")]["live_rows"]

    # compaction clears the debt
    index_compact(spark, root, "vecs", "lsh")
    inv2 = {
        (r["collection"], r["family"]): r
        for r in index_inventory(spark, root).collect()
    }
    assert not inv2[("vecs", "lsh")]["needs_compaction"]
    assert inv2[("vecs", "lsh")]["rows"] == lsh["live_rows"]


def test_empty_batch_appends_are_noops(spark, tmp_path):
    """Empty micro-batches are routine on a stream (a filter can
    eliminate a whole trigger's worth of rows): every on-disk append
    must be a no-op that neither crashes nor corrupts the persisted
    stats/meta — the BM25 stats merge is the risky one (a NULL avgdl
    from an empty slice folding into the weighted average would poison
    every later score)."""
    from vectorsearch_applications_spark.operators.ann import (
        ivf_index_append,
        ivf_save_index,
        ivf_search_indexed,
    )
    from vectorsearch_applications_spark.operators.bm25 import (
        bm25_index_append_persisted,
        bm25_save_index,
        bm25_search_indexed,
    )

    root = str(tmp_path)
    emb = _emb(spark)
    empty_vecs = emb.limit(0)
    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", "text")
    )
    queries = spark.createDataFrame(
        [(0, "spark join order")], "query_id long, query string"
    )

    lsh_save_index(emb, root, "v")
    pq_save_index(emb, root, "v")
    ivf_save_index(emb, root, "v", n_centroids=4)
    bm25_save_index(docs, root, "d")

    before_lsh = _rows(lsh_search_indexed(spark, root, "v", _queries(spark)))
    before_pq = _rows(pq_search_indexed(spark, root, "v", _queries(spark)))
    before_ivf = _rows(
        ivf_search_indexed(spark, root, "v", emb, _queries(spark))
    )
    before_bm = _rows(bm25_search_indexed(spark, root, "d", queries))

    assert lsh_index_append(spark, root, "v", empty_vecs) == 0
    assert pq_index_append(spark, root, "v", empty_vecs) == 0
    assert ivf_index_append(spark, root, "v", empty_vecs) == 0
    assert bm25_index_append_persisted(spark, root, "d", docs.limit(0)) == 0

    assert _rows(
        lsh_search_indexed(spark, root, "v", _queries(spark))
    ) == before_lsh
    assert _rows(
        pq_search_indexed(spark, root, "v", _queries(spark))
    ) == before_pq
    assert _rows(
        ivf_search_indexed(spark, root, "v", emb, _queries(spark))
    ) == before_ivf
    assert _rows(bm25_search_indexed(spark, root, "d", queries)) == before_bm


def test_tombstone_clear_is_the_undelete_verb(spark, tmp_path):
    """A mistaken delete is recoverable before compaction: the rows are
    still physically present, so clearing the tombstone restores them
    with no re-ingest — distinct from re-ingest-with-new-content, which
    must go through compact_if_reviving."""
    from vectorsearch_applications_spark.operators.lsh import lsh_load_index
    from vectorsearch_applications_spark.sources.tombstones import (
        tombstone_clear,
    )

    root = str(tmp_path)
    full = _emb(spark)
    lsh_save_index(full, root, "c")
    oops = full.filter(F.col("vec_id") < 20).select("vec_id")
    index_delete(spark, root, "c", "lsh", oops)
    buckets, _ = lsh_load_index(spark, root, "c")
    assert buckets.filter(F.col("vec_id") < 20).count() == 0

    tombstone_clear(spark, f"{root}/c__lsh", oops, "vec_id")
    restored, planes = lsh_load_index(spark, root, "c")
    assert restored.filter(F.col("vec_id") < 20).count() == 20
    # fully back: search equals the never-deleted index
    got = lsh_search_indexed(spark, root, "c", _queries(spark), k=10)
    want = lsh_search(full, _queries(spark), planes, k=10)
    assert _rows(got) == _rows(want)


def test_bm25_persisted_append_chain_matches_rebuild(spark, tmp_path):
    """The real deployment is MANY appends: three sequential persisted
    appends must rank exactly like one full rebuild. Ranks are the
    contract — the chained avgdl is the same algebra as the single
    merge but a different float summation order, so scores agree to
    1e-9 while the last ulp may differ."""
    from vectorsearch_applications_spark.operators.bm25 import (
        bm25_index_append_persisted,
        bm25_save_index,
        bm25_search_indexed,
    )

    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )
    queries = spark.createDataFrame(
        [(0, "spark join order"), (1, "window agg stream")],
        "query_id long, query string",
    )
    root = str(tmp_path)
    bm25_save_index(docs.filter(F.col("doc_id") % 4 == 0), root, "a")
    for r in (1, 2, 3):
        bm25_index_append_persisted(
            spark, root, "a", docs.filter(F.col("doc_id") % 4 == r)
        )
    bm25_save_index(docs, root, "b")

    got = {
        (r["query_id"], r["doc_id"]): (r["rank"], r["score"])
        for r in bm25_search_indexed(spark, root, "a", queries, limit=10).collect()
    }
    want = {
        (r["query_id"], r["doc_id"]): (r["rank"], r["score"])
        for r in bm25_search_indexed(spark, root, "b", queries, limit=10).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]  # ranks exact
        assert abs(got[k][1] - want[k][1]) < 1e-9


def test_ivfpq_indexed_live_view_skips_deleted(spark, tmp_path):
    """The IVFADC layout's probe (ivfpq_search_indexed) reads the same
    tombstone-live view as the flat ADC path: a deleted vector never
    surfaces from any probed bucket."""
    from vectorsearch_applications_spark.operators.ann import ivf_build

    root = str(tmp_path)
    full = _emb(spark)
    centroids, _ = ivf_build(full, n_centroids=4)
    pq_save_index(full, root, "c", centroids=centroids)

    # query 0's nearest neighbor is itself; delete it and probe again
    probe = _queries(spark).filter(F.col("query_id") == 0)
    before = ivfpq_search_indexed(spark, root, "c", probe, k=5, nprobe=4)
    assert before.filter(F.col("vec_id") == 0).count() == 1
    index_delete(
        spark, root, "c", "pq",
        full.filter(F.col("vec_id") == 0).select("vec_id"),
    )
    after = ivfpq_search_indexed(spark, root, "c", probe, k=5, nprobe=4)
    assert after.filter(F.col("vec_id") == 0).count() == 0
    assert after.count() == 5  # k still fills from survivors


def test_index_inventory_counts_small_file_debt(spark, tmp_path):
    """n_files grows with every append (the small-file axis of
    compaction need) and drops back at compaction."""
    from vectorsearch_applications_spark.sources.index_catalog import (
        index_inventory,
    )

    root = str(tmp_path)
    full = _emb(spark)
    lsh_save_index(full.filter(F.col("vec_id") < 100), root, "v")
    base = index_inventory(spark, root).collect()[0]["n_files"]
    for lo in (100, 150, 200):
        lsh_index_append(
            spark,
            root,
            "v",
            full.filter(
                (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 50)
            ),
        )
    grown = index_inventory(spark, root).collect()[0]["n_files"]
    assert grown > base
    index_compact(spark, root, "v", "lsh")
    compacted = index_inventory(spark, root).collect()[0]["n_files"]
    assert compacted < grown


def test_pq_append_geometry_from_saved_codebook(spark, tmp_path):
    """The append derives n_sub/dim from the persisted codebook (n_sub
    sub-quantizers of |cvec| dims); an explicit conflicting geometry
    raises instead of encoding wrong-width codes into the codes table."""
    import pytest

    emb = _emb(spark)
    root = str(tmp_path)
    # non-default geometry: 4 sub-quantizers over the 64-dim vectors
    pq_save_index(emb.filter(F.col("vec_id") < 100), root, "g",
                  n_codes=8, n_sub=4, dim=64)
    batch = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 150))
    n = pq_index_append(spark, root, "g", batch)  # geometry from codebook
    assert n == 50
    codes = spark.read.parquet(f"{root}/g__pq/codes")
    # every appended row carries 4 codes, the SAVED geometry
    assert codes.filter(F.size("codes") != 4).count() == 0
    with pytest.raises(ValueError, match="built with n_sub=4"):
        pq_index_append(spark, root, "g", batch, n_sub=8)
    with pytest.raises(ValueError, match="built with effective dim=64"):
        pq_index_append(spark, root, "g", batch, dim=32)
    # dim means EFFECTIVE encoded width: any dim implying the same
    # sub_dim (dim // n_sub) is the geometry the codebook was built
    # with — a build dim not divisible by n_sub truncated trailing
    # dims, so re-passing the original value must NOT raise (r9 advice)
    assert pq_index_append(spark, root, "g", batch, dim=64) == 50
    assert pq_index_append(spark, root, "g", batch, dim=67) == 50

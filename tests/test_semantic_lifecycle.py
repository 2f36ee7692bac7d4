"""Persisted SemDeDup index lifecycle (r9): the embedding dedup family
gets the same build/append/delete/compact contract as the other six
persisted families — standing corpus clustered ONCE under a frozen
codebook, batches assign + screen against the saved assignment table,
append==rebuild proven, tombstoned deletes stop producing evidence
immediately, and a revived id never resurrects stale assignment rows."""

from __future__ import annotations

from pyspark.sql import functions as F

from vectorsearch_applications_spark.operators.ann import (
    assign_nearest_centroid,
)
from vectorsearch_applications_spark.operators.dedup import (
    semantic_index_append,
    semantic_load_centroids,
    semantic_save_index,
    semantic_screen_batch,
)
from vectorsearch_applications_spark.sources.index_catalog import (
    index_compact,
    index_delete,
    index_live,
)
from vectorsearch_applications_spark.sources.io import load_table

from .conftest import SF_SMOKE

THRESHOLD = 0.35


def _emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings")


def _centroids(emb):
    # standing-only codebook rule (first 8 odd ids) — the same frozen
    # codebook the graded dedup_semantic_append query restates
    return emb.filter(
        (F.col("vec_id") % 2 == 1) & (F.col("vec_id") < 16)
    ).select(
        F.col("vec_id").cast("int").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )


def _pairs(asg, threshold=THRESHOLD):
    """Full rebuild pair set under a FROZEN assignment: screen with an
    empty standing side — every same-cluster pair oriented a < b."""
    return semantic_screen_batch(asg.limit(0), asg, threshold)


def _pair_set(df):
    return {(r["vec_a"], r["vec_b"]) for r in df.collect()}


def test_semantic_append_equals_rebuild(spark, tmp_path):
    emb = _emb(spark)
    cents = _centroids(emb)
    standing = emb.filter(F.col("vec_id") % 3 != 0)
    batch1 = emb.filter(
        (F.col("vec_id") % 3 == 0) & (F.col("vec_id") % 2 == 0)
    )
    batch2 = emb.filter(
        (F.col("vec_id") % 3 == 0) & (F.col("vec_id") % 2 != 0)
    )
    root = str(tmp_path)

    semantic_save_index(standing, cents, root, "vecs")
    asg_standing = assign_nearest_centroid(standing, cents, keep_vec=True)
    known = _pair_set(_pairs(asg_standing))
    new1 = _pair_set(
        semantic_index_append(spark, root, "vecs", batch1, THRESHOLD)
    )
    new2 = _pair_set(
        semantic_index_append(spark, root, "vecs", batch2, THRESHOLD)
    )
    asg_all = assign_nearest_centroid(emb, cents, keep_vec=True)
    rebuilt = _pair_set(_pairs(asg_all))
    # the two appends lose and invent nothing, and never overlap
    assert known | new1 | new2 == rebuilt
    assert not (new1 & known) and not (new2 & known) and not (new1 & new2)
    assert rebuilt  # non-vacuous fixture
    # the persisted assignment table now covers the whole corpus under
    # the FROZEN codebook: on-disk equals a fresh full assignment
    on_disk = {
        (r["vec_id"], r["centroid_id"])
        for r in index_live(spark, root, "vecs", "semantic").collect()
    }
    fresh = {
        (r["vec_id"], r["centroid_id"])
        for r in asg_all.select("vec_id", "centroid_id").collect()
    }
    assert on_disk == fresh
    # the codebook on disk is the one the standing build saved — an
    # append must never re-derive it
    saved = {
        r["centroid_id"]
        for r in semantic_load_centroids(spark, root, "vecs").collect()
    }
    assert saved == {1, 3, 5, 7, 9, 11, 13, 15}


def test_semantic_delete_compact_revive(spark, tmp_path):
    emb = _emb(spark).filter(F.col("vec_id") < 200)
    cents = _centroids(_emb(spark))
    root = str(tmp_path)
    semantic_save_index(emb, cents, root, "vecs")

    victim = emb.filter(F.col("vec_id") == 2).select("vec_id")
    assert index_delete(spark, root, "vecs", "semantic", victim) == 1
    # replay-idempotent
    assert index_delete(spark, root, "vecs", "semantic", victim) == 0
    live = index_live(spark, root, "vecs", "semantic")
    assert live.filter(F.col("vec_id") == 2).count() == 0
    # a deleted vector stops producing evidence IMMEDIATELY: screen a
    # batch that duplicates it exactly — no pair against vec 2
    dup = emb.filter(F.col("vec_id") == 2).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    evid = semantic_index_append(spark, root, "vecs", dup, THRESHOLD)
    assert evid.filter(
        (F.col("vec_a") == 2) | (F.col("vec_b") == 2)
    ).count() == 0
    # the exact duplicate of the deleted vector pairs with OTHER
    # same-cluster neighbors only if any pass the threshold — but it
    # must itself now be part of the standing index
    assert (
        index_live(spark, root, "vecs", "semantic")
        .filter(F.col("vec_id") == 100002)
        .count()
        == 1
    )
    # compaction folds the tombstone into a physical rewrite
    kept = index_compact(spark, root, "vecs", "semantic")
    assert kept == index_live(spark, root, "vecs", "semantic").count()
    assert (
        index_live(spark, root, "vecs", "semantic")
        .filter(F.col("vec_id") == 2)
        .count()
        == 0
    )


def test_semantic_revive_changed_vector_no_stale_rows(spark, tmp_path):
    emb = _emb(spark).filter(F.col("vec_id") < 100)
    cents = _centroids(_emb(spark))
    root = str(tmp_path)
    semantic_save_index(emb, cents, root, "vecs")

    victim = emb.filter(F.col("vec_id") == 4).select("vec_id")
    index_delete(spark, root, "vecs", "semantic", victim)
    # re-ingest id 4 with DIFFERENT content (another vector's embedding)
    changed = (
        _emb(spark)
        .filter(F.col("vec_id") == 101)
        .select(F.lit(4).cast("long").alias("vec_id"), "embedding")
    )
    semantic_index_append(spark, root, "vecs", changed, THRESHOLD)
    rows = (
        index_live(spark, root, "vecs", "semantic")
        .filter(F.col("vec_id") == 4)
        .collect()
    )
    # exactly ONE assignment row for the revived id — the stale
    # pre-delete row must not resurrect next to the new one
    assert len(rows) == 1
    expected = assign_nearest_centroid(changed, cents).collect()[0][
        "centroid_id"
    ]
    assert rows[0]["centroid_id"] == expected


def test_semantic_empty_batch_append_is_noop(spark, tmp_path):
    emb = _emb(spark).filter(F.col("vec_id") < 100)
    cents = _centroids(_emb(spark))
    root = str(tmp_path)
    semantic_save_index(emb, cents, root, "vecs")
    before = index_live(spark, root, "vecs", "semantic").count()
    evid = semantic_index_append(
        spark, root, "vecs", emb.limit(0), THRESHOLD
    )
    assert evid.count() == 0
    assert index_live(spark, root, "vecs", "semantic").count() == before


def test_semantic_family_in_index_inventory(spark, tmp_path):
    from vectorsearch_applications_spark.sources.index_catalog import (
        index_inventory,
    )

    emb = _emb(spark).filter(F.col("vec_id") < 100)
    cents = _centroids(_emb(spark))
    root = str(tmp_path)
    semantic_save_index(emb, cents, root, "vecs")
    index_delete(
        spark, root, "vecs", "semantic",
        emb.filter(F.col("vec_id") == 0).select("vec_id"),
    )
    inv = {
        r["family"]: r for r in index_inventory(spark, root).collect()
    }
    assert "semantic" in inv
    row = inv["semantic"]
    assert row["rows"] == 100
    assert row["live_rows"] == 99
    assert row["tombstoned_ids"] == 1
    assert bool(row["needs_compaction"]) is True


def test_streaming_semantic_index_append(spark, tmp_path):
    """Stream-ingest maintenance of the persisted semantic index: each
    micro-batch screens + appends via semantic_index_append
    (foreachBatch) under the FROZEN saved codebook, so the standing
    assignment table ends exactly where a one-shot build over everything
    that arrived would, and the per-batch evidence accumulates to the
    rebuild's batch-touching pairs — the durable twin of
    streaming/dedup.py stream_semantic_screen (which screens but does
    not persist)."""
    emb = _emb(spark).select("vec_id", "embedding")
    cents = _centroids(_emb(spark))
    root = str(tmp_path)
    semantic_save_index(emb.filter(F.col("vec_id") < 100), cents, root, "c")

    src = str(tmp_path / "vecs")
    emb.filter(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 200)
    ).write.parquet(src + "/b1")
    emb.filter(
        (F.col("vec_id") >= 200) & (F.col("vec_id") < 300)
    ).write.parquet(src + "/b2")

    screened: set[tuple[int, int]] = set()

    def append_batch(batch_df, epoch_id):
        pairs = semantic_index_append(spark, root, "c", batch_df, THRESHOLD)
        screened.update(_pair_set(pairs))

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

    all300 = emb.filter(F.col("vec_id") < 300)
    asg_all = assign_nearest_centroid(all300, cents, keep_vec=True)
    on_disk = {
        (r["vec_id"], r["centroid_id"])
        for r in index_live(spark, root, "c", "semantic").collect()
    }
    fresh = {
        (r["vec_id"], r["centroid_id"])
        for r in asg_all.select("vec_id", "centroid_id").collect()
    }
    assert on_disk == fresh
    standing_asg = assign_nearest_centroid(
        emb.filter(F.col("vec_id") < 100), cents, keep_vec=True
    )
    known = _pair_set(_pairs(standing_asg))
    rebuilt = _pair_set(_pairs(asg_all))
    assert known | screened == rebuilt
    assert not (screened & known)


def test_semantic_append_redelivery_idempotent(spark, tmp_path):
    """dedupe_redelivered=True makes the append idempotent under
    at-least-once delivery: a retried epoch (write committed, checkpoint
    lost) re-arrives whole, gets anti-joined away against the live
    standing slice, and neither duplicates assignment rows on disk nor
    re-emits its pairs."""
    emb = _emb(spark).select("vec_id", "embedding")
    cents = _centroids(_emb(spark))
    root = str(tmp_path)
    semantic_save_index(emb.filter(F.col("vec_id") < 100), cents, root, "c")
    batch = emb.filter(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 200)
    )

    first = _pair_set(
        semantic_index_append(
            spark, root, "c", batch, THRESHOLD, dedupe_redelivered=True
        )
    )
    rows_after_first = index_live(spark, root, "c", "semantic").count()
    # the redelivered epoch: identical bytes, already standing
    replay = _pair_set(
        semantic_index_append(
            spark, root, "c", batch, THRESHOLD, dedupe_redelivered=True
        )
    )
    assert replay == set()
    assert index_live(spark, root, "c", "semantic").count() == rows_after_first
    assert (
        index_live(spark, root, "c", "semantic")
        .groupBy("vec_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
        == 0
    )
    # the guarded first append loses nothing vs the unguarded contract
    asg_all = assign_nearest_centroid(
        emb.filter(F.col("vec_id") < 200), cents, keep_vec=True
    )
    known = _pair_set(
        _pairs(
            assign_nearest_centroid(
                emb.filter(F.col("vec_id") < 100), cents, keep_vec=True
            )
        )
    )
    assert known | first == _pair_set(_pairs(asg_all))


def test_semantic_live_view_prunes_centroid_partitions(spark, tmp_path):
    """The append's standing-side read must statically prune to the
    batch's assigned centroid directories — the literal isin filter has
    to push through the tombstone anti-join down to the partitioned
    scan (PartitionFilters), or the documented O(touched-clusters)
    append read cost silently becomes a full index scan."""
    emb = _emb(spark).select("vec_id", "embedding")
    cents = _centroids(_emb(spark))
    root = str(tmp_path)
    semantic_save_index(emb.filter(F.col("vec_id") < 200), cents, root, "c")
    # a standing tombstone makes the live view a real anti-join — the
    # pruning claim must survive the wrapper, not just a bare scan
    index_delete(
        spark, root, "c", "semantic",
        emb.filter(F.col("vec_id") == 0).select("vec_id"),
    )
    pruned = index_live(spark, root, "c", "semantic").filter(
        F.col("centroid_id").isin([1, 3])
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "centroid_id" in pf

"""JSON source/sink (S1/S2), zip join (O7), register_views (S9 surface)."""

from __future__ import annotations

from pyspark.sql import functions as F

from vectorsearch_applications_spark.sources.io import (
    load_table,
    register_views,
)

from .conftest import SF_SMOKE


def test_json_roundtrip(spark, tmp_path):
    """S1/S2: golden-dataset-style JSON artifacts via spark.read/write.json."""
    golden = spark.createDataFrame(
        [("q1", "what is x", "d_3", "x is y"), ("q2", "what is z", "d_7", "z is w")],
        "query_id string, query string, relevant_doc_id string, answer string",
    )
    path = str(tmp_path / "golden.json")
    golden.write.mode("overwrite").json(path)
    back = spark.read.json(path)
    assert back.count() == 2
    assert {r["query_id"] for r in back.collect()} == {"q1", "q2"}


def test_multiline_json_source(spark, tmp_path):
    """The reference corpus is one big indented JSON array
    (FileIO.load_json) — multiLine mode reads it as rows."""
    import json

    p = tmp_path / "corpus.json"
    p.write_text(
        json.dumps(
            [
                {"video_id": "abc", "title": "t1", "content": "hello world"},
                {"video_id": "def", "title": "t2", "content": "more text"},
            ],
            indent=2,
        )
    )
    df = spark.read.option("multiLine", "true").json(str(p))
    assert df.count() == 2
    assert set(df.columns) == {"video_id", "title", "content"}


def test_zip_join_positional(spark):
    """O7: positional zip of parallel lists (the reference zips metadata
    lists for SQL insert) → posexplode + join on position."""
    guests = spark.createDataFrame(
        [(["alice", "bob", "carol"],)], "xs array<string>"
    ).select(F.posexplode("xs").alias("pos", "guest"))
    views = spark.createDataFrame(
        [([100, 250, 50],)], "xs array<int>"
    ).select(F.posexplode("xs").alias("pos", "view_count"))
    joined = guests.join(views, "pos").orderBy("pos").collect()
    assert [(r["guest"], r["view_count"]) for r in joined] == [
        ("alice", 100),
        ("bob", 250),
        ("carol", 50),
    ]


def test_register_views_sql_surface(spark):
    register_views(spark, SF_SMOKE)
    n = spark.sql("SELECT count(*) AS n FROM documents").collect()[0]["n"]
    assert n == load_table(spark, SF_SMOKE, "documents").count()
    joined = spark.sql(
        """
        SELECT n_name, count(*) AS n
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name ORDER BY n DESC LIMIT 3
        """
    ).collect()
    assert len(joined) == 3


def test_compact_collection_preserves_rows_reduces_files(spark, tmp_path):
    from vectorsearch_applications_spark.sources.collections import (
        compact_collection,
        create_collection,
    )

    root = str(tmp_path)
    df = spark.range(0, 10_000).withColumn("v", F.col("id") * 2)
    # simulate an incremental sink: many tiny appends
    create_collection(spark, root, "tiny", df.repartition(64))
    import glob

    n_before = len(glob.glob(f"{root}/tiny/*.parquet"))
    assert n_before >= 32
    stats = compact_collection(spark, root, "tiny")
    assert stats["rows"] == 10_000
    assert stats["files_after"] < n_before
    assert stats["files_after"] == 1  # tiny table → one right-sized file
    out = spark.read.parquet(f"{root}/tiny")
    assert out.count() == 10_000
    assert out.agg(F.sum("v")).collect()[0][0] == 2 * sum(range(10_000))


def test_cluster_collection_gives_disjoint_file_ranges(spark, tmp_path):
    """After clustering, parquet footer min/max on the cluster key must be
    narrow and non-overlapping across files — the property min/max row-group
    skipping needs (a random layout makes every file span the full range)."""
    import glob

    import pyarrow.parquet as pq

    from vectorsearch_applications_spark.sources.collections import (
        cluster_collection,
        create_collection,
    )

    root = str(tmp_path)
    # adversarial layout: round-robin shuffles ids across files
    df = spark.range(0, 20_000).withColumn("k", F.col("id"))
    create_collection(spark, root, "tbl", df.repartition(8))

    def _ranges() -> list[tuple[int, int]]:
        out = []
        for f in glob.glob(f"{root}/tbl/*.parquet"):
            md = pq.ParquetFile(f).metadata
            col_idx = next(
                i for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema == "k"
            )
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(col_idx).statistics
                mins.append(st.min); maxs.append(st.max)
            out.append((min(mins), max(maxs)))
        return sorted(out)

    before = _ranges()
    # pre-clustering: files overlap (each spans nearly the whole id range)
    assert any(a_max > b_min for (_, a_max), (b_min, _) in zip(before, before[1:]))

    cluster_collection(spark, root, "tbl", ["k"], n_files=8)
    after = _ranges()
    assert len(after) == 8
    # disjoint, ordered ranges: every file ends before the next begins
    assert all(a_max < b_min for (_, a_max), (b_min, _) in zip(after, after[1:]))
    # nothing lost
    out = spark.read.parquet(f"{root}/tbl")
    assert out.count() == 20_000 and out.agg(F.sum("k")).collect()[0][0] == sum(range(20_000))


# ---------------------------------------------------------------------------
# merge_collection (CDC upsert/delete) and export_jsonl_shards
# ---------------------------------------------------------------------------

def test_merge_collection_upsert_delete_lww(spark, tmp_path):
    from vectorsearch_applications_spark.sources.collections import (
        create_collection,
        merge_collection,
    )

    root = str(tmp_path)
    base = spark.createDataFrame(
        [(1, "one"), (2, "two"), (3, "three")], "doc_id long, text string"
    )
    create_collection(spark, root, "m", base)
    changes = spark.createDataFrame(
        [
            (2, "TWO-v1", "upsert", 1),
            (2, "TWO-v2", "upsert", 2),   # later seq wins
            (3, None, "delete", 1),
            (4, "four", "upsert", 1),     # insert
            (5, "ghost", "upsert", 1),
            (5, None, "delete", 1),       # tie on seq -> delete wins
        ],
        "doc_id long, text string, op string, seq long",
    )
    stats = merge_collection(spark, root, "m", changes)
    rows = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{root}/m").collect()
    }
    assert rows == {1: "one", 2: "TWO-v2", 4: "four"}
    assert stats["rows"] == 3


def test_merge_frame_replay_idempotent(spark):
    """Applying the same change batch twice must equal applying it once
    (the retry contract merge_upsert_orders grades at query level):
    deletes cannot resurrect, upserts overwrite to the same winner."""
    from vectorsearch_applications_spark.sources.collections import merge_frame

    target = spark.createDataFrame(
        [(1, "one"), (2, "two"), (3, "three")], "doc_id long, text string"
    )
    changes = spark.createDataFrame(
        [
            (2, "TWO-v2", "upsert", 2),
            (3, None, "delete", 1),
            (4, "four", "upsert", 1),
            (5, "ghost", "upsert", 1),
            (5, None, "delete", 1),  # tie on seq -> delete wins
        ],
        "doc_id long, text string, op string, seq long",
    )
    once = merge_frame(target, changes)
    twice = merge_frame(once, changes)
    assert once.exceptAll(twice).count() == 0
    assert twice.exceptAll(once).count() == 0
    assert {r["doc_id"]: r["text"] for r in once.collect()} == {
        1: "one",
        2: "TWO-v2",
        4: "four",
    }


def test_export_jsonl_shards_deterministic_and_lossless(spark, tmp_path):
    import os

    from vectorsearch_applications_spark.sources.io import export_jsonl_shards

    df = spark.range(200).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("t"), "id").alias("text")
    )
    p1, p2 = str(tmp_path / "e1"), str(tmp_path / "e2")
    export_jsonl_shards(df, p1, "doc_id", 4)
    # a re-export (even from a differently-partitioned frame) must land
    # every row in the same shard
    export_jsonl_shards(df.repartition(13), p2, "doc_id", 4)

    got1 = spark.read.json(p1)
    assert sorted(r["shard"] for r in got1.select("shard").distinct().collect()) == [0, 1, 2, 3]
    assert got1.count() == 200
    a = {(r["doc_id"], r["shard"]) for r in got1.collect()}
    b = {(r["doc_id"], r["shard"]) for r in spark.read.json(p2).collect()}
    assert a == b
    # one data file per shard (repartitioned by shard before the write)
    for d in os.listdir(p1):
        if d.startswith("shard="):
            files = [f for f in os.listdir(os.path.join(p1, d)) if f.endswith(".json")]
            assert len(files) == 1, (d, files)


def test_csv_roundtrip_with_header_and_schema(spark, tmp_path):
    # S1-family completeness: delimited text in/out with explicit schema
    # (inferSchema would re-scan — at 100 TB always pass the schema)
    df = spark.createDataFrame(
        [(1, "a,b quoted", 1.5), (2, None, -2.0)],
        "id long, text string, score double",
    )
    p = str(tmp_path / "csv")
    df.write.mode("overwrite").option("header", True).csv(p)
    back = (
        spark.read.schema("id long, text string, score double")
        .option("header", True)
        .csv(p)
    )
    assert sorted(back.collect()) == sorted(df.collect())


def test_zorder_collection_prunes_both_dimensions(spark, tmp_path):
    """Z-ordering must shrink per-file bounding boxes on BOTH columns —
    the property that lets footer stats prune on either predicate (linear
    clustering only buys this for its leading column)."""
    import glob

    import pyarrow.parquet as pq

    from vectorsearch_applications_spark.sources.collections import (
        create_collection,
        zorder_collection,
    )

    root = str(tmp_path)
    # two independent-ish dimensions; round-robin layout to start
    df = spark.range(0, 20_000).select(
        F.col("id").alias("x"), ((F.col("id") * 7919) % 20_000).alias("y")
    )
    create_collection(spark, root, "tbl", df.repartition(16))

    def _span_fraction(col: str) -> float:
        spans = []
        for f in glob.glob(f"{root}/tbl/*.parquet"):
            md = pq.ParquetFile(f).metadata
            ci = next(
                i for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema == col
            )
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                mins.append(st.min); maxs.append(st.max)
            spans.append((max(maxs) - min(mins)) / 20_000)
        return sum(spans) / len(spans)

    # pre-zorder: every file spans ~the full range on both columns
    assert _span_fraction("x") > 0.9 and _span_fraction("y") > 0.9

    zorder_collection(spark, root, "tbl", "x", "y", n_files=16)
    fx, fy = _span_fraction("x"), _span_fraction("y")
    # post-zorder: the average per-file bounding box must shrink on BOTH
    # dimensions (16 files on a 2-D curve -> ~1/4 span per dimension)
    assert fx < 0.5 and fy < 0.5, (fx, fy)
    # no rows lost, helper columns dropped
    back = spark.read.parquet(f"{root}/tbl")
    assert back.count() == 20_000 and set(back.columns) == {"x", "y"}


def test_zorder_value_interleaves_bits(spark):
    from vectorsearch_applications_spark.sources.collections import (
        zorder_value,
    )

    df = spark.createDataFrame([(5, 3)], "x long, y long")  # 0b101, 0b011
    (row,) = df.select(
        zorder_value("x", "y", bits=3).alias("z")
    ).collect()
    # x bits -> even positions (1,0,1 at 0,2,4), y bits -> odd (1,1,0 at 1,3,5)
    assert row["z"] == 0b011011


def test_zorder_value_sql_construction_bitwise_equal(spark):
    """zorder_value's one parsed SQL chain must build the same BIGINT as
    the same chain assembled through the DataFrame API, for every input."""
    from vectorsearch_applications_spark.sources.collections import (
        zorder_value,
    )

    df = spark.createDataFrame(
        [(5, 3), (0, 0), (65535, 65535), (12345, 54321)], "x long, y long"
    )
    x, y = F.col("x"), F.col("y")
    z_col = None
    for i in range(16):
        xi = F.shiftleft(F.shiftright(x.cast("long"), i).bitwiseAND(1), 2 * i)
        yi = F.shiftleft(
            F.shiftright(y.cast("long"), i).bitwiseAND(1), 2 * i + 1
        )
        z_col = (
            xi.bitwiseOR(yi)
            if z_col is None
            else z_col.bitwiseOR(xi).bitwiseOR(yi)
        )
    rows = df.select(
        zorder_value("x", "y", bits=16).alias("z_sql"),
        z_col.alias("z_col"),
    ).collect()
    for r in rows:
        assert r["z_sql"] == r["z_col"]


def test_create_collection_writes_bloom_filters(spark, tmp_path):
    """bloom_cols must actually land in the files: a bloom filter for a
    high-cardinality id adds its bitset bytes to every file (pyarrow 16
    exposes no bloom metadata, so the size delta — with identical data,
    row-group layout, and encodings — is the observable)."""
    import glob
    import os

    from vectorsearch_applications_spark.sources.collections import (
        create_collection,
    )

    df = spark.range(0, 50_000).select(F.col("id").alias("doc_id")).coalesce(1)
    root = str(tmp_path)
    create_collection(spark, root, "plain", df)
    create_collection(
        spark, root, "bloomed", df, bloom_cols=["doc_id"], bloom_ndv=50_000
    )

    size = lambda n: sum(  # noqa: E731
        os.path.getsize(f) for f in glob.glob(f"{root}/{n}/*.parquet")
    )
    plain, bloomed = size("plain"), size("bloomed")
    # a 50k-ndv bloom bitset is tens of KB; data pages are identical
    assert bloomed > plain + 10_000, (plain, bloomed)
    # and the bloomed table still reads correctly with an equality probe
    got = (
        spark.read.parquet(f"{root}/bloomed")
        .filter(F.col("doc_id") == 41_337)
        .collect()
    )
    assert [r["doc_id"] for r in got] == [41_337]


def test_snapshot_tag_and_rollback_roundtrip(spark, tmp_path):
    from vectorsearch_applications_spark.sources.collections import (
        create_collection,
        list_snapshots,
        rollback_collection,
        snapshot_collection,
        update_collection,
    )

    root = str(tmp_path)
    base = spark.createDataFrame(
        [(1, "one"), (2, "two")], "doc_id long, text string"
    )
    create_collection(spark, root, "c", base)
    snapshot_collection(root, "c", "v1")
    assert list_snapshots(root, "c") == ["v1"]

    # mutate the live collection; the snapshot must not move
    update_collection(
        spark, root, "c", lambda df: df.withColumn("text", F.upper("text"))
    )
    live = {r["text"] for r in spark.read.parquet(f"{root}/c").collect()}
    snap = {r["text"] for r in spark.read.parquet(f"{root}/c@v1").collect()}
    assert live == {"ONE", "TWO"} and snap == {"one", "two"}

    # rollback restores the tag; the tag itself survives for re-use
    rollback_collection(root, "c", "v1")
    back = {r["text"] for r in spark.read.parquet(f"{root}/c").collect()}
    assert back == {"one", "two"}
    assert list_snapshots(root, "c") == ["v1"]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        snapshot_collection(root, "c", "v1")  # duplicate tag
    with _pytest.raises(ValueError):
        rollback_collection(root, "c", "missing")


def test_merge_deleted_counts_rows_actually_removed(spark, tmp_path):
    # ADVICE r4: deleted must not count delete-winners whose key never
    # existed in the target (no-op replay batches must report 0 deletes)
    from vectorsearch_applications_spark.sources.collections import (
        create_collection,
        merge_collection,
    )

    root = str(tmp_path)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    create_collection(spark, root, "c", df)

    # delete keys 2 (exists) and 99 (never existed)
    ch = spark.createDataFrame(
        [(2, None, "delete", 1), (99, None, "delete", 1)],
        "id long, v string, op string, seq long",
    )
    stats = merge_collection(spark, root, "c", ch, key_col="id")
    assert stats == {"upserted": 0, "deleted": 1, "rows": 1}

    # replaying the same change set is a no-op: 0 actual deletions
    stats2 = merge_collection(spark, root, "c", ch, key_col="id")
    assert stats2 == {"upserted": 0, "deleted": 0, "rows": 1}


def test_collection_name_rejects_snapshot_and_staging_namespaces(
    spark, tmp_path
):
    import pytest as _pytest

    from vectorsearch_applications_spark.sources.collections import (
        create_collection,
    )

    df = spark.createDataFrame([(1,)], "id long")
    for bad in ["x@y", "c__staging", "c__old"]:
        with _pytest.raises(ValueError):
            create_collection(spark, str(tmp_path), bad, df)


def test_expire_snapshots_keeps_newest_and_protected(spark, tmp_path):
    import os
    import time

    from vectorsearch_applications_spark.sources.collections import (
        create_collection,
        expire_snapshots,
        list_snapshots,
        rollback_collection,
        snapshot_collection,
    )

    root = str(tmp_path)
    base = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    create_collection(spark, root, "c", base)
    for i, tag in enumerate(["a", "b", "c", "d"]):
        snapshot_collection(root, "c", tag)
        # mtime ordering must be unambiguous even on coarse filesystems
        t = time.time() + i
        os.utime(f"{root}/c@{tag}", (t, t))

    removed = expire_snapshots(root, "c", keep_last=2)
    assert removed == ["a", "b"]  # oldest first
    assert list_snapshots(root, "c") == ["c", "d"]

    # protected tags survive even outside the keep_last window
    removed = expire_snapshots(root, "c", keep_last=0, keep=("d",))
    assert removed == ["c"]
    assert list_snapshots(root, "c") == ["d"]

    # the surviving snapshot is still a valid rollback target (hard links
    # of expired siblings never touched shared data files)
    rollback_collection(root, "c", "d")
    assert {r["text"] for r in spark.read.parquet(f"{root}/c").collect()} == {
        "x"
    }


def test_recover_collection_resolves_every_crash_state(spark, tmp_path):
    import os
    import shutil

    import pytest as _pytest

    from vectorsearch_applications_spark.sources.collections import (
        create_collection,
        recover_collection,
    )

    root = str(tmp_path)
    base = spark.createDataFrame([(1, "old")], "doc_id long, text string")
    new = spark.createDataFrame([(1, "new")], "doc_id long, text string")

    def fresh(name):
        create_collection(spark, root, name, base)
        return os.path.join(root, name)

    def read(name):
        return {r["text"] for r in spark.read.parquet(f"{root}/{name}").collect()}

    # clean
    fresh("c0")
    assert recover_collection(root, "c0") == "clean"

    # crash BEFORE swap: staging written, live untouched -> discard staging
    p = fresh("c1")
    new.write.parquet(p + "__staging")
    assert recover_collection(root, "c1") == "discarded_staging"
    assert read("c1") == {"old"} and not os.path.isdir(p + "__staging")

    # crash AFTER promotion, before cleanup -> discard old
    p = fresh("c2")
    new.write.parquet(p + "__staging")
    os.rename(p, p + "__old")
    os.rename(p + "__staging", p)
    assert recover_collection(root, "c2") == "discarded_old"
    assert read("c2") == {"new"} and not os.path.isdir(p + "__old")

    # crash BETWEEN move-aside and promotion, staging complete -> finish
    # the swap forward
    p = fresh("c3")
    new.write.parquet(p + "__staging")
    os.rename(p, p + "__old")
    assert recover_collection(root, "c3") == "promoted_staging"
    assert read("c3") == {"new"} and not os.path.isdir(p + "__old")

    # same window but staging INCOMPLETE (no _SUCCESS) -> roll back
    p = fresh("c4")
    new.write.parquet(p + "__staging")
    os.remove(os.path.join(p + "__staging", "_SUCCESS"))
    os.rename(p, p + "__old")
    assert recover_collection(root, "c4") == "restored_old"
    assert read("c4") == {"old"} and not os.path.isdir(p + "__staging")

    # nothing to recover
    with _pytest.raises(ValueError):
        recover_collection(root, "nope")

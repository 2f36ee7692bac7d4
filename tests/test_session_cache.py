"""One session cache (sources.io.memo): an entry is rebuilt when the
files it was built from change, whoever changed them, its superseded
frames are unpersisted, and each key builds once under concurrent
callers."""

from __future__ import annotations

import os
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

import vectorsearch_applications_spark.client as client_mod
import vectorsearch_applications_spark.operators.bm25 as bm25_mod
from vectorsearch_applications_spark.client import SparkSearchClient
from vectorsearch_applications_spark.operators.bm25 import (
    bm25_cache_clear,
    bm25_search,
)
from vectorsearch_applications_spark.sources.collections import (
    update_collection,
)
from vectorsearch_applications_spark.sources.io import (
    forget,
    load_table,
    memo,
    one_slice_df,
)

from .conftest import SF_SMOKE

Q = "spark join order"


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def _cached_rdds(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _searches(spark, client, path) -> dict[str, list[tuple]]:
    q = one_slice_df(spark, [(0, Q)], "query_id long, query string")
    return {
        "keyword_search": _rows(client.keyword_search("docs", Q, limit=10)),
        "vector_search": _rows(client.vector_search("docs", Q, limit=10)),
        "bm25_search": _rows(
            bm25_search(
                spark.read.parquet(path), q, limit=10, cache_key=f"{path}#out"
            )
        ),
    }


def _mutate(spark, root, docs, how):
    if how == "append":  # a plain Spark write, no facade verb
        docs.filter("doc_id >= 150 AND doc_id < 300").write.mode(
            "append"
        ).parquet(os.path.join(root, "docs"))
    else:  # a rewrite the facade never sees
        update_collection(
            spark,
            root,
            "docs",
            lambda df: df.withColumn(
                "text",
                F.when(F.col("doc_id") % 3 == 0, F.lit(f"{Q} {Q}")).otherwise(
                    F.col("text")
                ),
            ),
        )


@pytest.mark.parametrize("how", ["append", "update_collection"])
def test_out_of_band_rewrite_is_never_served_stale(spark, tmp_path, how):
    root = str(tmp_path)
    path = os.path.join(root, "docs")
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    client = SparkSearchClient(spark, root)
    client.create_collection("docs", docs.filter("doc_id < 150"))  # no text index
    base = _cached_rdds(spark)
    before = _searches(spark, client, path)
    warm = _cached_rdds(spark) - base
    assert warm  # the stats and the embedded corpus are persisted

    _mutate(spark, root, docs, how)
    after = _searches(spark, client, path)
    # every superseded frame is released, none is left behind
    assert warm.isdisjoint(_cached_rdds(spark))

    bm25_cache_clear()  # the whole session cache
    cold = _searches(spark, SparkSearchClient(spark, root), path)
    for verb in cold:
        assert after[verb] == cold[verb], verb
        assert after[verb] != before[verb], verb  # the rewrite shows


def test_concurrent_cold_searches_build_each_key_once(
    spark, tmp_path, monkeypatch
):
    root = str(tmp_path)
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    SparkSearchClient(spark, root).create_collection(
        "docs", docs.filter("doc_id < 300")
    )
    calls = {"bm25_build_stats": 0, "hash_embed_ids": 0}
    lock = threading.Lock()

    def counted(name, fn):
        def slow(*a, **k):
            with lock:
                calls[name] += 1
            time.sleep(0.5)  # every thread reaches the cache meanwhile
            return fn(*a, **k)

        return slow

    monkeypatch.setattr(
        bm25_mod,
        "bm25_build_stats",
        counted("bm25_build_stats", bm25_mod.bm25_build_stats),
    )
    monkeypatch.setattr(
        client_mod,
        "hash_embed_ids",
        counted("hash_embed_ids", client_mod.hash_embed_ids),
    )
    client = SparkSearchClient(spark, root)

    def call(i):
        if i % 2:
            return _rows(client.keyword_search("docs", Q, limit=10))
        return _rows(client.hybrid_search("docs", Q, alpha=0.25, limit=10))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as pool:  # more threads than cores
            got = list(pool.map(call, range(8), timeout=600))
    finally:
        sys.setswitchinterval(interval)
    assert calls == {"bm25_build_stats": 1, "hash_embed_ids": 1}

    bm25_cache_clear()
    serial = [call(i) for i in range(2)]
    assert got == serial * 4


def test_memo_rebuilds_on_token_change_and_forget_releases(spark):
    builds = []

    def build():
        builds.append(1)
        return (spark.range(len(builds) + 2).persist(),)

    key = ("memo-test", "k")
    first = memo(spark, key, build, files=(("/t/a", 1, 1),))
    assert memo(spark, key, build, files=(("/t/a", 1, 1),)) is first
    assert first[0].count() == 3 and first[0].is_cached
    second = memo(spark, key, build, files=(("/t/a", 2, 2),))
    assert len(builds) == 2 and second[0].count() == 4
    assert not first[0].is_cached and second[0].is_cached
    forget("/t")
    assert not second[0].is_cached
    memo(spark, key, build, files=(("/t/a", 2, 2),))
    assert len(builds) == 3
    forget("/t")


def test_delete_collection_frees_its_entries(spark, tmp_path):
    client = SparkSearchClient(spark, str(tmp_path))
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    client.create_collection("docs", docs.filter("doc_id < 100"))
    base = _cached_rdds(spark)
    _rows(client.hybrid_search("docs", Q, limit=5))
    warm = _cached_rdds(spark) - base
    assert warm
    client.delete_collection("docs")
    assert warm.isdisjoint(_cached_rdds(spark))


def test_rebuilt_index_after_merge_never_reads_released_stats(spark, tmp_path):
    """A merge swaps the collection's directory without a Spark write, so
    Spark's cache still holds the BM25 stats persisted before it, and a
    plan over the same root path would be served them. The next read of
    the collection sees the new listing and releases every entry built
    from it: the text index built after the merge has no deleted doc."""
    client = SparkSearchClient(spark, str(tmp_path))
    docs = load_table(spark, SF_SMOKE, "documents").filter("doc_id < 300")
    client.create_collection("docs", docs)  # no text index: stats memoized
    top = client.keyword_search("docs", Q, limit=5).collect()
    victim = min(top, key=lambda r: r["rank"])["doc_id"]
    changes = (
        docs.filter(F.col("doc_id") == victim)
        .withColumn("op", F.lit("delete"))
        .withColumn("seq", F.lit(1).cast("long"))
    )
    assert client.merge("docs", changes)["deleted"] == 1
    client.build_text_index("docs")
    hits = client.keyword_search("docs", Q, limit=300).collect()
    assert hits and victim not in {r["doc_id"] for r in hits}

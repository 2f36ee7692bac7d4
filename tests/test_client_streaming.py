"""Facade streaming verbs (r11, r10 verdict stretch): the client owns
the streaming story like it owns the batch one — stream_rag serves a
query stream from the collection's persisted text index, stream_ingest
is the reference's batch-upsert add-data flow as an effectively-once
foreachBatch stream with the keep-fresh text-index repair."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from vectorsearch_applications_spark.client import SparkSearchClient
from vectorsearch_applications_spark.sources.index_catalog import stale_meta
from vectorsearch_applications_spark.sources.io import load_table
from vectorsearch_applications_spark.streaming.rag import rag_answer_batch

from .conftest import SF_SMOKE

Q = [(0, "spark join order"), (1, "window agg stream")]
SCHEMA = "query_id long, query string"


def test_client_stream_rag_requires_fresh_index(spark, tmp_path):
    """The service loop must never silently degrade to per-batch corpus
    scans: no persisted text index -> raise naming build_text_index; a
    stale one (post-merge) -> raise naming the repair verbs."""
    c = SparkSearchClient(spark, str(tmp_path))
    docs = load_table(spark, SF_SMOKE, "documents").filter(F.col("doc_id") < 200)
    c.create_collection("docs", docs)
    with pytest.raises(ValueError, match="build_text_index"):
        c.stream_rag(
            "docs",
            str(tmp_path / "src"),
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
        )
    c.build_text_index("docs")
    c.merge(
        "docs",
        docs.limit(1)
        .withColumn("text", F.lit("changed"))
        .withColumn("op", F.lit("upsert"))
        .withColumn("seq", F.lit(1).cast("long")),
    )
    with pytest.raises(ValueError, match="stale"):
        c.stream_rag(
            "docs",
            str(tmp_path / "src"),
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
        )


def test_client_stream_rag_equals_batch_twin(spark, tmp_path):
    """Prompts served by the facade stream equal the rag_answer_batch
    composition over the same queries (stream==batch discipline, through
    the client's index-meta plumbing)."""
    c = SparkSearchClient(spark, str(tmp_path))
    docs = load_table(spark, SF_SMOKE, "documents")
    c.create_collection("docs", docs)
    c.build_text_index("docs")
    src = str(tmp_path / "queries_in")
    out = str(tmp_path / "prompts_out")
    spark.createDataFrame(Q, SCHEMA).write.mode("append").parquet(src)

    q = c.stream_rag("docs", src, out, str(tmp_path / "ckpt"))
    assert q.awaitTermination(300)
    got = {
        r["query_id"]: (r["n_context"], r["prompt"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r["query_id"]: (r["n_context"], r["prompt"])
        for r in rag_answer_batch(
            spark,
            str(tmp_path),
            "docs",
            c._load("docs"),
            spark.createDataFrame(Q, SCHEMA),
        ).collect()
    }
    assert got == want and set(got) == {0, 1}


def test_client_stream_ingest_effectively_once_and_keeps_index_fresh(
    spark, tmp_path
):
    """Ingest is effectively-once keyed by doc identity: redelivered ids
    screen out via the anti-join (a full checkpoint-loss replay appends
    nothing), and the persisted text index stays FRESH through the
    keep-fresh append — proven by a poisoned-builder keyword search that
    finds a streamed-in doc without rebuilding stats."""
    import vectorsearch_applications_spark.operators.bm25 as bm25_mod

    c = SparkSearchClient(spark, str(tmp_path))
    docs = load_table(spark, SF_SMOKE, "documents")
    standing = docs.filter(F.col("doc_id") < 300)
    batch = docs.filter(
        (F.col("doc_id") >= 250) & (F.col("doc_id") < 350)
    ).unionByName(
        # one invalid row (null text): quarantined, never indexed — the
        # fresh slice is 51 rows, so the default 1% budget would abort;
        # the widened threshold below admits it
        docs.limit(1).select(
            F.lit(999_999).alias("doc_id"),
            F.lit(None).cast("string").alias("text"),
            "lang",
            "source",
            "n_chars",
        )
    )  # 50 redelivered ids + 50 new + 1 reject
    c.create_collection("docs", standing)
    c.build_text_index("docs")
    n0 = c.get_doc_count("docs")

    src = str(tmp_path / "docs_in")
    ckpt = str(tmp_path / "ingest_ckpt")
    batch.write.mode("append").parquet(src)
    q = c.stream_ingest(
        "docs", src, ckpt, not_null_cols=["doc_id", "text"],
        error_threshold=0.05,
    )
    assert q.awaitTermination(300)
    n1 = c.get_doc_count("docs")
    assert n1 == n0 + 50  # genuinely-new valid ids only
    # the reject is quarantined, not in the collection and not indexed
    qdir = str(tmp_path / "docs__quarantine")
    assert spark.read.parquet(qdir).count() == 1
    assert (
        c._load("docs").filter(F.col("doc_id") == 999_999).count() == 0
    )

    # full redelivery (checkpoint lost): every valid id already present
    # and the reject screens against the quarantine — a no-op, NOT a
    # re-validation that trips the 1% budget (r11 review)
    shutil.rmtree(ckpt)
    q = c.stream_ingest(
        "docs", src, ckpt, not_null_cols=["doc_id", "text"],
        # DEFAULT budget on the replay: if the reject were re-validated
        # instead of screened, 1/1 = 100% > 1% would abort the stream
    )
    assert q.awaitTermination(300)
    assert c.get_doc_count("docs") == n1
    assert c._load("docs").select("doc_id").distinct().count() == n1
    assert spark.read.parquet(qdir).count() == 1  # not re-quarantined

    # the keep-fresh append repaired the stale flag: the persisted index
    # serves searches (builder poisoned) and covers the streamed docs
    assert stale_meta(c.root, "docs", "bm25") is None
    monkey = pytest.MonkeyPatch()
    try:
        monkey.setattr(
            bm25_mod,
            "bm25_build_stats",
            lambda *a, **k: (_ for _ in ()).throw(
                AssertionError("stats rebuilt despite fresh persisted index")
            ),
        )
        hits = c.keyword_search("docs", "spark join order", limit=n1).collect()
    finally:
        monkey.undo()
    hit_ids = {r["doc_id"] for r in hits}
    streamed_only = {
        r["doc_id"]
        for r in batch.filter(F.col("doc_id") >= 300)
        .select("doc_id")
        .collect()
    }
    assert hit_ids & streamed_only, "streamed docs never became searchable"


def test_client_stream_ingest_crash_replay_keeps_index_honest(spark, tmp_path):
    """A crash between the collection append and the text-index repair:
    the replayed batch screens out as redelivered, so its docs never
    reach the index. A later batch must not clear the flag by repairing
    only its own docs — keyword search has to keep returning the
    in-plan BM25 truth, which includes the crashed batch's docs."""
    import vectorsearch_applications_spark.operators.bm25 as bm25_mod

    c = SparkSearchClient(spark, str(tmp_path))
    docs = load_table(spark, SF_SMOKE, "documents")
    c.create_collection("docs", docs.filter(F.col("doc_id") < 300))
    c.build_text_index("docs")

    def new_docs(first_id: int, marker: str):
        return docs.filter(F.col("doc_id") < 5).select(
            (F.col("doc_id") + first_id).alias("doc_id"),
            F.concat(F.lit(marker + " "), "text").alias("text"),
            "lang",
            "source",
            "n_chars",
        )

    src = str(tmp_path / "docs_in")
    ckpt = str(tmp_path / "ingest_ckpt")
    new_docs(500_000, "alphamarker").write.mode("append").parquet(src)

    def ingest():
        return c.stream_ingest("docs", src, ckpt, not_null_cols=["doc_id", "text"])

    def crash(*a, **k):
        raise RuntimeError("crash before the text-index repair")

    c.append_to_text_index = crash
    with pytest.raises(Exception):
        ingest().awaitTermination(300)
    del c.append_to_text_index
    assert c.get_doc_count("docs") == 305  # appended before the crash

    # the restart replays batch 0 (screened out) and runs batch 1
    new_docs(600_000, "betamarker").write.mode("append").parquet(src)
    assert ingest().awaitTermination(300)
    assert c.get_doc_count("docs") == 310
    for query in ("alphamarker", "betamarker"):
        got = sorted(
            (r["doc_id"], r["rank"])
            for r in c.keyword_search("docs", query, limit=20).collect()
        )
        truth = sorted(
            (r["doc_id"], r["rank"])
            for r in bm25_mod.bm25_search(
                c._load("docs"),
                spark.createDataFrame([(0, query)], SCHEMA),
                limit=20,
            ).collect()
        )
        assert len(truth) == 5 and got == truth, query
    assert stale_meta(c.root, "docs", "bm25") == {"verb": "batch_index_data"}

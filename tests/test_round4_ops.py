"""Unit tests for the round-4 operators: MMR diversification, hyperplane
LSH, PII scrubbing, hard-negative mining semantics, rolling event stats."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from vectorsearch_applications_spark.operators.lsh import (
    lsh_bucket,
    lsh_planes,
    lsh_search,
)
from vectorsearch_applications_spark.operators.mmr import mmr_diversify
from vectorsearch_applications_spark.functions.scrub import scrub_text


def _vec_df(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, relevance double"
    )


def test_mmr_prefers_diverse_over_redundant(spark):
    # Candidates: two near-identical top hits and one orthogonal hit.
    # Plain top-2 by relevance = {1, 2}; MMR with lam=0.5 must swap the
    # redundant #2 for the orthogonal #3.
    cand = _vec_df(
        spark,
        [
            (1, [1.0, 0.0], 1.0),
            (2, [0.999, 0.0447], 0.99),  # ~same direction as 1
            (3, [0.0, 1.0], 0.80),  # orthogonal
        ],
    ).withColumn("query_id", F.lit(0))
    out = mmr_diversify(
        cand, id_col="vec_id", vec_col="embedding", rel_col="relevance",
        k=2, lam=0.5,
    )
    picks = [r["vec_id"] for r in out.orderBy("mmr_rank").collect()]
    assert picks == [1, 3]


def test_mmr_first_pick_is_argmax_relevance_with_id_tiebreak(spark):
    cand = _vec_df(
        spark,
        [(7, [1.0, 0.0], 0.9), (3, [0.0, 1.0], 0.9), (9, [0.6, 0.8], 0.1)],
    ).withColumn("query_id", F.lit(0))
    out = mmr_diversify(cand, rel_col="relevance", k=1, lam=0.7)
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["vec_id"] == 3  # tie on rel → smaller id wins
    assert rows[0]["mmr_score"] == pytest.approx(0.9)


def test_mmr_k_capped_by_group_size(spark):
    cand = _vec_df(spark, [(1, [1.0, 0.0], 0.5)]).withColumn(
        "query_id", F.lit(0)
    )
    assert mmr_diversify(cand, rel_col="relevance", k=5).count() == 1


def test_lsh_planes_deterministic_and_signed():
    p1 = lsh_planes(n_planes=4, dim=8)
    p2 = lsh_planes(n_planes=4, dim=8)
    assert p1 == p2
    assert all(v in (1.0, -1.0) for row in p1 for v in row)
    # different seeds differ
    assert lsh_planes(n_planes=4, dim=8, seed=99) != p1


def test_lsh_bucket_range_and_locality(spark):
    planes = lsh_planes(n_planes=4, dim=4)
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.999, 0.01, 0.0, 0.0]),  # near-duplicate of 1
            (3, [-1.0, 0.0, 0.0, 0.0]),  # antipode of 1
        ],
        "vec_id long, embedding array<double>",
    ).withColumn("bucket", lsh_bucket("embedding", planes))
    rows = {r["vec_id"]: r["bucket"] for r in df.collect()}
    assert all(0 <= b < 16 for b in rows.values())
    assert rows[1] == rows[2]  # near-identical vectors collide
    assert rows[1] != rows[3]  # antipodes flip every sign bit
    assert rows[1] ^ rows[3] == 15


def test_lsh_search_subset_of_exact_with_perfect_precision(spark, sf_dir):
    """Every LSH hit must be a true cosine neighbor *within the bucket*:
    scores are exact, only candidate generation is approximate — so each
    returned (query, hit) pair's distance equals the exact distance."""
    from vectorsearch_applications_spark.operators.knn import (
        knn_search_crossjoin,
    )
    from vectorsearch_applications_spark.sources.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    planes = lsh_planes(n_planes=4, dim=64)
    approx = lsh_search(emb, queries, planes, k=5)
    exact = knn_search_crossjoin(emb, queries, k=1000)
    joined = approx.alias("a").join(
        exact.alias("e"), ["query_id", "vec_id"], "left"
    )
    rows = joined.select(
        "query_id", "vec_id", F.col("a.distance"), F.col("e.distance")
    ).collect()
    assert rows, "lsh returned nothing — bucket join broken"
    for r in rows:
        assert r[3] is not None  # every approx hit exists in exact ranking
        assert abs(r[2] - r[3]) < 1e-9


def test_scrub_text_patterns(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at a.b+c@foo-bar.example.org today"),
            (2, "call 555-867-5309 or 555.867.5309"),
            (3, "server at 192.168.0.1 port 8080"),
            (4, "ref 123456789012 and short 1234"),
            (5, "clean text with no pii at all"),
        ],
        "id long, t string",
    ).select("id", scrub_text(F.col("t")).alias("s"))
    got = {r["id"]: r["s"] for r in df.collect()}
    assert got[1] == "mail me at <EMAIL> today"
    assert got[2] == "call <PHONE> or <PHONE>"
    assert got[3] == "server at <IP> port 8080"
    assert got[4] == "ref <NUMBER> and short 1234"
    assert got[5] == "clean text with no pii at all"


def test_hard_negatives_exclude_anchor_label(spark, sf_dir):
    from vectorsearch_applications_spark.queries import get_queries

    out = get_queries()["hard_negative_mining"](spark, sf_dir)
    from vectorsearch_applications_spark.sources.io import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    joined = (
        out.join(
            emb.select(
                F.col("vec_id").alias("query_id"), F.col("label").alias("al")
            ),
            "query_id",
        )
        .join(
            emb.select(
                F.col("vec_id").alias("negative_id"),
                F.col("label").alias("nl"),
            ),
            "negative_id",
        )
    )
    rows = joined.collect()
    assert rows
    for r in rows:
        assert r["al"] != r["nl"]
        assert r["negative_id"] != r["query_id"]
        assert r["positive_id"] != r["query_id"]


def test_rolling_stats_short_history(spark):
    """First events of a user average over however many exist (frame is
    4-preceding, not padded)."""
    from vectorsearch_applications_spark.operators.windows import (  # noqa: F401
        expanded_content,
    )

    ev = spark.createDataFrame(
        [(1, 10, 1.0), (2, 20, 3.0), (3, 30, 5.0)],
        "event_id long, es long, value double",
    ).withColumn("user_id", F.lit(1))
    from pyspark.sql import Window

    order = Window.partitionBy("user_id").orderBy("es", "event_id")
    trail = order.rowsBetween(-4, Window.currentRow)
    got = (
        ev.select(
            "event_id",
            (F.sum("value").over(trail) / F.count(F.lit(1)).over(trail)).alias(
                "avg"
            ),
        )
        .orderBy("event_id")
        .collect()
    )
    assert [r["avg"] for r in got] == [1.0, 2.0, 3.0]


def test_rrf_scores_and_nlists(spark):
    from vectorsearch_applications_spark.operators.hybrid import rrf_fuse

    a = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2)], "query_id long, doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [(0, 11, 1), (0, 12, 2)], "query_id long, doc_id long, rank int"
    )
    out = {r["doc_id"]: r for r in rrf_fuse([a, b], k=60, limit=10).collect()}
    # doc 11 appears in both lists: 1/62 + 1/61
    assert out[11]["score"] == pytest.approx(1 / 62 + 1 / 61)
    assert out[11]["n_lists"] == 2
    assert out[10]["score"] == pytest.approx(1 / 61)
    assert out[10]["n_lists"] == 1
    # both-lists doc outranks single-list docs
    assert out[11]["rank"] == 1


def test_rrf_rank_ties_break_on_doc_id(spark):
    from vectorsearch_applications_spark.operators.hybrid import rrf_fuse

    a = spark.createDataFrame(
        [(0, 5, 1), (0, 3, 1)], "query_id long, doc_id long, rank int"
    )
    # same rank → same score → doc_id asc wins
    rows = rrf_fuse([a], k=60, limit=10).orderBy("rank").collect()
    assert [r["doc_id"] for r in rows] == [3, 5]


def test_lsh_multiprobe_recall_at_least_single_probe(spark, sf_dir):
    from vectorsearch_applications_spark.operators.knn import (
        knn_search_crossjoin,
    )
    from vectorsearch_applications_spark.sources.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    planes = lsh_planes(n_planes=4, dim=64)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in knn_search_crossjoin(emb, queries, k=10).collect()
    }

    def recall(multiprobe):
        hits = {
            (r["query_id"], r["vec_id"])
            for r in lsh_search(
                emb, queries, planes, k=10, multiprobe=multiprobe
            ).collect()
        }
        return len(hits & exact) / len(exact)

    r0, r1 = recall(0), recall(1)
    assert r1 >= r0
    assert r1 > 0.3  # hamming-1 probing must find a meaningful share


def test_kgram_spans_detect_shared_span(spark):
    from vectorsearch_applications_spark.operators.dedup import (
        duplicated_kgram_spans,
    )

    span = " ".join(f"w{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (1, span + " unique tail one alpha beta"),
            (2, "other head words here " + span),
            (3, "completely different text with no overlap at all"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["id"]: r for r in duplicated_kgram_spans(docs, k=20).collect()
    }
    # docs 1 and 2 share the full 20-token span => its k-gram duplicates
    assert out[1]["n_dup_kgrams"] >= 1
    assert out[2]["n_dup_kgrams"] >= 1
    assert out[3]["n_dup_kgrams"] == 0
    # doc 3 is shorter than... it has 9 tokens < 20 => zero k-grams
    assert out[3]["n_kgrams"] == 0
    assert out[3]["dup_ratio"] == 0.0


def _lsh_bucket_column_reference(vec, planes):
    """The DataFrame-API form of lsh_bucket_sql, built node by node —
    the reference the one-string SQL builder must match bitwise."""
    dv = F.transform(vec, lambda x: x.cast("double"))
    code = F.lit(0).cast("bigint")
    for p, row in enumerate(planes):
        lit_plane = F.array(*[F.lit(v) for v in row])
        proj = F.aggregate(
            F.zip_with(lit_plane, dv, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        code = code + F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0)).cast(
            "bigint"
        )
    return code


def test_lsh_bucket_sql_path_bitwise_equal(spark):
    """lsh_bucket (one JVM-parsed SQL expression) must bucket
    bitwise-identically to the same tree assembled through the
    DataFrame API. Covers negative components, zero vectors, and a
    vector landing exactly on a hyperplane (proj == 0 → bit set)."""
    planes = lsh_planes(n_planes=4, dim=4)
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),
            (3, [-0.3, 0.7, -0.2, 0.9]),
            (4, [0.5, -0.5, 0.5, -0.5]),
        ],
        "vec_id long, embedding array<double>",
    )
    a = df.select(
        "vec_id",
        _lsh_bucket_column_reference(F.col("embedding"), planes).alias("b"),
    ).collect()
    b = df.select("vec_id", lsh_bucket("embedding", planes).alias("b")).collect()
    assert sorted(map(repr, a)) == sorted(map(repr, b))


def test_lsh_bucket_table_sql_construction_bitwise_equal(spark):
    """lsh_bucket_table's selectExpr construction must match the
    DataFrame-API form bitwise (same id/vector-cast/bucket trees)."""
    from vectorsearch_applications_spark.operators.lsh import lsh_bucket_table

    planes = lsh_planes(n_planes=4, dim=3)
    df = spark.createDataFrame(
        [(1, [0.1, -0.2, 0.3]), (2, [0.0, 0.0, 0.0]), (3, [9.5, -3.25, 0.5])],
        "vec_id long, embedding array<float>",
    )
    new = lsh_bucket_table(df, planes).collect()
    old = df.select(
        F.col("vec_id").alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("_v"),
        _lsh_bucket_column_reference(F.col("embedding"), planes).alias("bucket"),
    ).collect()
    assert sorted(map(repr, new)) == sorted(map(repr, old))

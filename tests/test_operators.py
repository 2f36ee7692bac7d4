"""Unit tests for operator semantics the SQL oracle can't grade directly:
edge cases, UDF plumbing, ANN recall, guards."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from vectorsearch_applications_spark.functions.embed import (
    hash_embed_col,
    model_embed_factory,
)
from vectorsearch_applications_spark.operators.ann import ann_recall_at_k
from vectorsearch_applications_spark.operators.chunking import chunk_tokens
from vectorsearch_applications_spark.operators.hybrid import minmax_normalize
from vectorsearch_applications_spark.operators.knn import (
    knn_search,
    knn_search_crossjoin,
)
from vectorsearch_applications_spark.operators.rerank import rerank_overlap
from vectorsearch_applications_spark.operators.topk import token_budget_truncate
from vectorsearch_applications_spark.operators.windows import expanded_content
from vectorsearch_applications_spark.plans.text2sql import (
    SqlGuardError,
    validate_select_only,
)
from vectorsearch_applications_spark.sources.io import load_table

from .conftest import SF_SMOKE


def test_chunk_tokens_boundaries(spark):
    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(33))), (2, "a b"), (3, "")],
        "doc_id long, text string",
    )
    out = chunk_tokens(docs, chunk_size=16, overlap=0).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[1]) == 3  # 33 tokens → 16+16+1
    assert [r["n_chunk_tokens"] for r in sorted(by_doc[1], key=lambda r: r["chunk_index"])] == [16, 16, 1]
    assert by_doc[1][0]["chunk_id"] == "1_0"
    assert len(by_doc[2]) == 1 and by_doc[2][0]["chunk_text"] == "a b"
    assert 3 not in by_doc  # empty text → no chunks


def test_chunk_tokens_overlap(spark):
    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10)))], "doc_id long, text string"
    )
    out = sorted(
        chunk_tokens(docs, chunk_size=4, overlap=2).collect(),
        key=lambda r: r["chunk_index"],
    )
    # stride 2, n_chunks = ceil((10-2)/2) = 4: windows [0:4],[2:6],[4:8],[6:10]
    # (a 5th window at 8 would be fully contained in [6:10])
    assert [r["chunk_text"].split()[0] for r in out] == ["t0", "t2", "t4", "t6"]
    assert out[-1]["n_chunk_tokens"] == 4
    assert out[-1]["chunk_text"] == "t6 t7 t8 t9"


def test_hash_embed_deterministic_unit_norm(spark):
    df = spark.createDataFrame(
        [(1, "spark join order"), (2, "spark join order"), (3, "other text")],
        "id long, text string",
    )
    rows = df.select("id", hash_embed_col("text", dim=16).alias("e")).collect()
    e = {r["id"]: r["e"] for r in rows}
    assert e[1] == e[2] != e[3]
    assert len(e[1]) == 16
    assert abs(sum(x * x for x in e[1]) - 1.0) < 1e-9


def _dim_contrib_reference(token, d):
    """Per-token contribution to dimension d (lambda variable), built
    through the DataFrame API: ((hex byte d of md5(token)) − 127.5)/128."""
    if isinstance(d, int):
        sub = F.substring(F.md5(token), 2 * d + 1, 2)
    else:
        sub = F.md5(token).substr(d * 2 + 1, F.lit(2))
    return (F.conv(sub, 16, 10).cast("double") - 127.5) / 128.0


def _hash_embed_column_reference(text, dim):
    """hash_embed_col's tree assembled node by node through the
    DataFrame API — the reference the one-string SQL builder
    (functions/embed.py:_HASH_EMBED_SQL) must match bitwise."""
    toks = F.filter(
        F.split(F.lower(text), r"\W+"), lambda x: x != F.lit("")
    )
    raw = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: F.aggregate(
            toks,
            F.lit(0.0),
            lambda acc, t: acc + _dim_contrib_reference(t, d),
        ),
    )

    def _norm(r):
        return F.sqrt(
            F.aggregate(
                F.transform(r, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
            )
        )

    return F.element_at(
        F.transform(
            F.array(raw),
            lambda r: F.when(_norm(r) == 0, r).otherwise(
                F.transform(r, lambda x: x / _norm(r))
            ),
        ),
        1,
    )


def test_hash_embed_col_name_path_bitwise_equal(spark):
    """hash_embed_col (one JVM-parsed SQL expression) must produce
    bitwise-identical vectors to the same tree assembled through the
    DataFrame API."""
    df = spark.createDataFrame(
        [
            (1, "What is vector search and how does BM25 differ?"),
            (2, ""),
            (3, "   "),
            (4, "a"),
            (5, "The quick brown fox; jumps OVER 13 lazy dogs!!"),
            (6, "unicode λ test ümlaut ß"),
            (7, None),
        ],
        "id long, text string",
    )
    for dim in (8, 16):
        a = df.select(
            "id", _hash_embed_column_reference(F.col("text"), dim).alias("e")
        ).collect()
        b = df.select("id", hash_embed_col("text", dim).alias("e")).collect()
        assert sorted(map(repr, a)) == sorted(map(repr, b))


def test_hash_embed_ids_sql_construction_bitwise_equal(spark):
    """hash_embed_ids' SQL-string construction must match the
    DataFrame-API form it replaced bitwise (same tree: per-dim md5-byte
    contributions, groupBy sums, left-fold norm seeded 0.0D)."""
    from vectorsearch_applications_spark.functions.embed import hash_embed_ids
    from vectorsearch_applications_spark.functions.text import tokenize

    df = load_table(spark, SF_SMOKE, "documents").limit(60)
    dim = 16
    toks = df.select(
        F.col("doc_id").alias("_eid"), F.explode(tokenize("text")).alias("_t")
    )
    per_tok = toks.select(
        "_eid",
        *[_dim_contrib_reference(F.col("_t"), d).alias(f"_v{d}") for d in range(dim)],
    )
    sums = per_tok.groupBy("_eid").agg(
        *[F.sum(f"_v{d}").alias(f"_s{d}") for d in range(dim)]
    )
    raw = F.array(*[F.col(f"_s{d}") for d in range(dim)])
    norm = F.sqrt(
        sum(
            (F.col(f"_s{d}") * F.col(f"_s{d}") for d in range(dim)),
            F.lit(0.0),
        )
    )
    legacy = sums.select(
        F.col("_eid").alias("doc_id"),
        F.when(norm == 0, raw)
        .otherwise(F.transform(raw, lambda x: x / norm))
        .alias("embedding"),
    )
    new = hash_embed_ids(df, "doc_id", "text", dim)
    assert sorted(map(repr, legacy.collect())) == sorted(
        map(repr, new.collect())
    )


def test_model_embed_plumbing_with_fake_encoder(spark):
    """The mapInPandas embedding path with an injected deterministic encoder
    (the model lib is absent in this container — the plumbing is the test)."""
    docs = load_table(spark, SF_SMOKE, "documents").limit(20)
    fake = lambda texts: [[float(len(t) % 7), 1.0, 0.0] for t in texts]  # noqa: E731
    out = docs.select("doc_id", "text").mapInPandas(
        model_embed_factory(encode_fn=fake, dim=3),
        schema="doc_id long, text string, embedding array<float>",
    )
    rows = out.collect()
    assert len(rows) == 20
    assert all(len(r["embedding"]) == 3 and r["embedding"][1] == 1.0 for r in rows)


def test_knn_partial_equals_crossjoin(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    a = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in knn_search(emb, q, k=7).collect()
    }
    b = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in knn_search_crossjoin(emb, q, k=7).collect()
    }
    assert a == b and len(a) == 21


def test_knn_auto_switches_past_query_cap(spark):
    # r8 (verdict task 4): past max_collect_queries rows knn_search must
    # auto-CHUNK the query set (hash-split + union; NOT the crossjoin
    # twin, whose broadcast would re-create the same driver OOM) — same
    # results on either side of the boundary, and the pre_filter must
    # survive the chunking
    emb = load_table(spark, SF_SMOKE, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    flt = F.col("label") != 2
    collected = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["distance"], 12))
        for r in knn_search(
            emb, q, k=7, pre_filter=flt, max_collect_queries=100
        ).collect()
    }
    switched = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["distance"], 12))
        for r in knn_search(
            emb, q, k=7, pre_filter=flt, max_collect_queries=2
        ).collect()
    }
    assert collected == switched and len(switched) == 21


def test_knn_pre_filter_semantics(spark):
    """Filtered vector search filters BEFORE ranking (Weaviate pre-filter,
    SURVEY P6) — excluded ids must never appear, and ranks stay dense."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    hits = knn_search(emb, q, k=5, pre_filter=F.col("label") == 3).collect()
    labels = {
        r["label"]
        for r in emb.join(
            spark.createDataFrame(
                [(r["vec_id"],) for r in hits], "vec_id long"
            ),
            "vec_id",
        ).collect()
    }
    assert labels == {3}
    assert [r["rank"] for r in sorted(hits, key=lambda r: r["rank"])] == [1, 2, 3, 4, 5]


def test_keep_vec_assignment_equivalence(spark):
    """keep_vec=True must change ONLY the plan (vector carried through the
    broadcast argmin), never the assignment itself — the invariant every
    r6 self-join-free rewrite (semantic_dedup, ivf_search fast path,
    IVFPQ fused index) leans on. Also pins that the carried `_v` is the
    double-cast input vector, element for element."""
    from vectorsearch_applications_spark.operators.ann import (
        assign_nearest_centroid,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").cast("int").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    plain = {
        (r["vec_id"], r["centroid_id"])
        for r in assign_nearest_centroid(emb, cents).collect()
    }
    kept = assign_nearest_centroid(emb, cents, keep_vec=True).collect()
    assert {(r["vec_id"], r["centroid_id"]) for r in kept} == plain
    raw = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    for r in kept:
        assert r["_v"] == [float(x) for x in raw[r["vec_id"]]]


def test_ivf_build_sparse_ids(spark):
    """Hash-mod centroid sampling must produce a full centroid set even
    when ids are sparse/offset (a stride `id % k == 0` filter picks ~0
    rows here because every id is ≡ 1 mod 7)."""
    from vectorsearch_applications_spark.operators.ann import ivf_build

    emb = (
        load_table(spark, SF_SMOKE, "embeddings")
        .withColumn("vec_id", F.col("vec_id") * 7 + 1_000_003)
    )
    centroids, assignments = ivf_build(emb, n_centroids=16)
    assert centroids.count() == 16
    ids = {r["centroid_id"] for r in centroids.collect()}
    assert ids == set(range(16))
    # every vector assigned to exactly one bucket
    assert assignments.count() == emb.count()
    assert assignments.select("vec_id").distinct().count() == emb.count()


def test_ann_recall_reasonable(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    rec = ann_recall_at_k(emb, q, k=10, n_centroids=16, nprobe=16)
    vals = [r["recall_at_k"] for r in rec.collect()]
    assert len(vals) == 5
    # probing every bucket == exhaustive search
    assert all(v == 1.0 for v in vals)
    partial = ann_recall_at_k(emb, q, k=10, n_centroids=16, nprobe=4)
    pvals = [r["recall_at_k"] for r in partial.collect()]
    assert all(0.0 <= v <= 1.0 for v in pvals)
    assert sum(pvals) / len(pvals) >= 0.5  # 1/4 of buckets ≥ half the hits


def test_hybrid_alpha_edges(spark):
    """α=0 → ranking is pure keyword order; α=1 → pure vector order
    (hybrid_search docstring contract, weaviate_interface_v4.py:330-335)."""
    from vectorsearch_applications_spark.operators.hybrid import hybrid_search

    kw = spark.createDataFrame(
        [(0, 1, 3.0), (0, 2, 2.0), (0, 3, 1.0)],
        "query_id long, doc_id long, score double",
    )
    vec = spark.createDataFrame(
        [(0, 3, 0.1), (0, 2, 0.2), (0, 1, 0.3)],
        "query_id long, doc_id long, distance double",
    )
    pure_kw = [
        r["doc_id"]
        for r in hybrid_search(kw, vec, alpha=0.0, limit=3)
        .orderBy("rank")
        .collect()
    ]
    pure_vec = [
        r["doc_id"]
        for r in hybrid_search(kw, vec, alpha=1.0, limit=3)
        .orderBy("rank")
        .collect()
    ]
    assert pure_kw == [1, 2, 3]
    assert pure_vec == [3, 2, 1]


def test_bucketed_neardup_recall(spark):
    """The IVF-bucketed near-dup path returns a subset of brute force with
    usable recall at a lowered threshold (exact values, no false pairs)."""
    from vectorsearch_applications_spark.operators.dedup import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_bucketed,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    brute = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_neardup_pairs(emb, threshold=0.35).collect()
    }
    bucketed = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_neardup_pairs_bucketed(
            emb, threshold=0.35, n_centroids=8
        ).collect()
    }
    assert bucketed <= brute  # no false pairs: exact check on candidates
    if brute:
        assert len(bucketed) / len(brute) >= 0.2  # similar pairs co-bucket


def test_minmax_degenerate_group(spark):
    df = spark.createDataFrame(
        [(1, 5.0), (1, 5.0), (2, 1.0), (2, 3.0)], "g long, v double"
    )
    out = {
        (r["g"], r["v"]): r["norm"]
        for r in minmax_normalize(df, "v", ["g"]).collect()
    }
    assert out[(1, 5.0)] == 0.0  # constant group → 0 (sklearn behavior)
    assert out[(2, 1.0)] == 0.0 and out[(2, 3.0)] == 1.0


def test_token_budget_keeps_first_hit(spark):
    hits = spark.createDataFrame(
        [(1, 10, 1, 500), (1, 11, 2, 10), (2, 20, 1, 50), (2, 21, 2, 60)],
        "query_id long, doc_id long, rank long, n_tokens long",
    )
    kept = {
        (r["query_id"], r["doc_id"])
        for r in token_budget_truncate(hits, "n_tokens", budget=100).collect()
    }
    # query 1: rank-1 overflows the budget alone but is always kept; rank 2
    # is dropped because the cumulative sum is already over budget
    assert (1, 10) in kept and (1, 11) not in kept
    # query 2: 50 fits, 50+60=110 overflows → rank 2 dropped
    assert (2, 20) in kept and (2, 21) not in kept


def test_rerank_threshold_fallback(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta"), (3, "zzz yyy")],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(0, "alpha beta"), (1, "qqq www")], "query_id long, query string"
    )
    hits = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 1), (1, 3)], "query_id long, doc_id long"
    )
    out = rerank_overlap(
        hits, queries, docs, top_k=1, threshold=0.5
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    # query 0: doc 2 (jaccard 1.0) and doc 1 (2/3) pass the 0.5 threshold;
    # doc 3 (0) does not
    assert {r["doc_id"] for r in by_q[0]} == {1, 2}
    # query 1: nothing passes → fallback to top_k=1
    assert len(by_q[1]) == 1


def test_rerank_model_fake_scorer_sigmoid_and_fallback(spark):
    """Q4 model path: mapInPandas pair scorer with an injected fake model —
    verifies the sigmoid option and that the threshold-with-fallback
    orchestration is identical to the overlap path."""
    import math

    from vectorsearch_applications_spark.operators.rerank import rerank_model

    docs = spark.createDataFrame(
        [(1, "short"), (2, "a much longer document text"), (3, "mid text")],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(0, "q zero"), (1, "q one")], "query_id long, query string"
    )
    hits = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 1), (1, 2)], "query_id long, doc_id long"
    )

    # deterministic fake cross-encoder: raw logit = text length - 10
    fake = lambda pairs: [float(len(t) - 10) for _, t in pairs]  # noqa: E731

    raw = rerank_model(
        hits, queries, docs, top_k=3, apply_sigmoid=False, score_fn=fake
    ).collect()
    sig = rerank_model(
        hits, queries, docs, top_k=3, apply_sigmoid=True, score_fn=fake
    ).collect()
    raw_by = {(r["query_id"], r["doc_id"]): r["cross_score"] for r in raw}
    sig_by = {(r["query_id"], r["doc_id"]): r["cross_score"] for r in sig}
    assert raw_by[(0, 1)] == -5.0  # len("short") - 10
    for k, v in raw_by.items():
        assert abs(sig_by[k] - 1.0 / (1.0 + math.exp(-v))) < 1e-12
    # ranking follows score desc: doc 2 (longest) first for both queries
    assert [r["doc_id"] for r in sorted(raw, key=lambda r: r["rank"]) if r["query_id"] == 0][0] == 2

    # threshold 0.5 on sigmoid scores = raw > 0: only doc 2 passes; for a
    # query where nothing passes, fallback keeps top_k
    thr = rerank_model(
        hits.filter(F.col("doc_id") != 2),
        queries,
        docs,
        top_k=1,
        threshold=0.5,
        apply_sigmoid=True,
        score_fn=fake,
    ).collect()
    by_q = {}
    for r in thr:
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q[0]) == 1 and len(by_q[1]) == 1  # fallback engaged


def test_expanded_content_window2(spark):
    docs = spark.createDataFrame(
        [("v", i, f"c{i}") for i in range(5)],
        "video_id string, chunk_index long, content string",
    )
    out = {
        r["chunk_index"]: r["expanded_content"]
        for r in expanded_content(docs, window_size=2).collect()
    }
    assert out[0] == "c0 c1 c2"
    assert out[2] == "c0 c1 c2 c3 c4"
    assert out[4] == "c2 c3 c4"


def test_router_fit_and_fitted_inference(spark):
    """Q5 training: fitted thresholds separate an easy two-route corpus and
    the fitted classifier falls back to the default route below threshold."""
    from vectorsearch_applications_spark.plans.router import (
        fit_route_thresholds,
        route_queries_fitted,
    )

    routes = spark.createDataFrame(
        [
            ("sql", "how many rows are there"),
            ("sql", "count the total views"),
            ("search", "tell me about sleep"),
            ("search", "what was said about light"),
        ],
        "route string, utterance string",
    )
    train = spark.createDataFrame(
        [
            (0, "how many views are there", "sql"),
            (1, "count the rows", "sql"),
            (2, "tell me about morning light", "search"),
            (3, "what was said about sleep", "search"),
        ],
        "query_id long, query string, label string",
    )
    fitted = fit_route_thresholds(train, routes, default_route="search")
    rows = {r["route"]: r for r in fitted.collect()}
    assert set(rows) <= {"sql", "search"}
    for r in rows.values():
        assert 0 <= r["threshold_idx"] < 20
        assert r["n_correct"] <= r["n_train"]
        assert abs(r["threshold"] - r["threshold_idx"] * 0.05) < 1e-15

    # inference honors the fitted thresholds; an absurdly high threshold
    # forces the default-route fallback
    out = {
        r["query_id"]: r["route"]
        for r in route_queries_fitted(
            train.select("query_id", "query"), routes, fitted
        ).collect()
    }
    assert len(out) == 4
    high = spark.createDataFrame(
        [("sql", 0.99), ("search", 0.99)], "route string, threshold double"
    )
    forced = {
        r["query_id"]: r["route"]
        for r in route_queries_fitted(
            train.select("query_id", "query"), routes, high, default_route="search"
        ).collect()
    }
    assert all(v == "search" for v in forced.values())


def test_text2sql_pipeline_guards_generated_sql(spark):
    """Generated SQL is untrusted: a stub that emits a destructive
    statement must be stopped by the guard, never executed."""
    import pytest

    from vectorsearch_applications_spark.plans.text2sql import (
        SqlGuardError,
        text2sql_pipeline,
    )

    async def hostile(system_message: str, user_message: str) -> str:
        return "DROP TABLE orders"

    with pytest.raises(SqlGuardError):
        text2sql_pipeline(spark, "delete everything", acomplete_fn=hostile)

    async def benign(system_message: str, user_message: str) -> str:
        return "SELECT 1 AS one"

    assert text2sql_pipeline(spark, "just one", acomplete_fn=benign).collect()[
        0
    ]["one"] == 1


def test_sql_guard():
    assert validate_select_only("SELECT 1").startswith("SELECT")
    with pytest.raises(SqlGuardError):
        validate_select_only("DELETE FROM t")
    with pytest.raises(SqlGuardError):
        validate_select_only("SELECT 1; SELECT 2")
    with pytest.raises(SqlGuardError):
        validate_select_only("WITH a AS (SELECT 1) DROP TABLE t")
    # comments are stripped, not executable
    assert "drop" not in validate_select_only(
        "SELECT 1 -- drop table t"
    ).lower()


def test_cosine_math(spark):
    from vectorsearch_applications_spark.functions.vectors import (
        cosine_similarity,
        l2_normalize,
    )

    df = spark.createDataFrame(
        [([3.0, 4.0], [3.0, 4.0]), ([1.0, 0.0], [0.0, 1.0])],
        "a array<double>, b array<double>",
    )
    rows = (
        df.select("a", "b", l2_normalize("a").alias("na"), l2_normalize("b").alias("nb"))
        .select(
            cosine_similarity("na", "nb").alias("c"),
            cosine_similarity("a", "b", assume_normalized=False).alias("cu"),
        )
        .collect()
    )
    assert abs(rows[0]["c"] - 1.0) < 1e-12
    assert abs(rows[1]["c"]) < 1e-12
    assert all(abs(r["cu"] - r["c"]) < 1e-12 for r in rows)


def test_bpe_tokenize_golden(spark):
    """BPE-ish pretokenizer semantics: leading-space fusion, contraction
    tails, punctuation runs as tokens, digit/letter splits — the cases that
    distinguish it from the \\W+ whitespace model."""
    from vectorsearch_applications_spark.functions.text import (
        bpe_token_count,
        bpe_tokenize,
        token_count,
    )

    df = spark.createDataFrame(
        [("Don't stop!! 42 items  here",), ("",)], "text string"
    )
    rows = df.select(
        bpe_tokenize("text").alias("t"),
        bpe_token_count("text").alias("n_bpe"),
        token_count("text").alias("n_ws"),
    ).collect()
    assert rows[0]["t"] == [
        "don", "'t", " stop", "!!", " 42", " items", " here",
    ]
    # punctuation run and contraction tail count under BPE, vanish under \W+
    assert rows[0]["n_bpe"] == 7
    assert rows[0]["n_ws"] == 6  # don, t, stop, 42, items, here
    assert rows[1]["t"] == [] and rows[1]["n_bpe"] == 0


def test_ann_exhaustive_probe_equals_exact(spark):
    """nprobe == n_centroids ⇒ IVF candidate set is the whole corpus ⇒
    identical ranking to exact kNN (the invariant ann_ivf_exhaustive's
    oracle grades at the driver)."""
    from vectorsearch_applications_spark.operators.ann import (
        ivf_build,
        ivf_search,
    )
    from vectorsearch_applications_spark.operators.knn import (
        knn_search_crossjoin,
    )

    corpus = spark.createDataFrame(
        [(i, [float((i * 7 + d * 3) % 11 - 5) for d in range(4)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    ).selectExpr(
        "vec_id",
        "transform(embedding, x -> x / sqrt(aggregate(transform(embedding, y -> y*y), 0D, (a,y) -> a+y))) AS embedding",
    )
    queries = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    centroids, assignments = ivf_build(corpus, n_centroids=4)
    approx = ivf_search(
        corpus, centroids, assignments, queries, k=5, nprobe=4
    )
    exact = knn_search_crossjoin(corpus, queries, k=5)
    a = {(r["query_id"], r["vec_id"], r["rank"]) for r in approx.collect()}
    e = {(r["query_id"], r["vec_id"], r["rank"]) for r in exact.collect()}
    assert a == e


def test_ivf_append_matches_rebuild(spark):
    """Appending rows assigns ONLY the new rows against the frozen codebook;
    the union must equal re-assigning the whole corpus with the same
    centroids (the foreachBatch incremental-index invariant)."""
    from vectorsearch_applications_spark.operators.ann import (
        _assign,
        ivf_append,
        ivf_build,
    )

    full = spark.createDataFrame(
        [(i, [float((i * 5 + d) % 7 - 3) for d in range(4)]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    base = full.filter(F.col("vec_id") < 20)
    new = full.filter(F.col("vec_id") >= 20)
    centroids, base_assign = ivf_build(base, n_centroids=3)
    appended = ivf_append(centroids, base_assign, new)
    rebuilt = _assign(full, centroids, "vec_id", "embedding")
    a = {(r["vec_id"], r["centroid_id"]) for r in appended.collect()}
    b = {(r["vec_id"], r["centroid_id"]) for r in rebuilt.collect()}
    assert a == b and len(a) == 30


def test_langid_ngram_semantics(spark):
    from vectorsearch_applications_spark.operators.textstats import langid_ngram

    docs = spark.createDataFrame(
        [
            # clear EN: 'the'(3) + ' th'(2) overlap handling + 'and'(2)
            (0, "The cat and the dog"),
            # no profile gram at all -> 'und', score 0
            (1, "zzz qqq xxx"),
            # empty text -> 'und'
            (2, ""),
            # engineered tie DE==EN -> alphabetical winner 'de':
            # de: sch(2) + ich(2) + 'en '(1) = 5; en: the(3) + ' th'(2) = 5
            (3, "schen ich the"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in langid_ngram(docs).collect()}
    assert rows[0]["lang_pred"] == "en" and rows[0]["lang_score"] > 0
    assert rows[1]["lang_pred"] == "und" and rows[1]["lang_score"] == 0
    assert rows[2]["lang_pred"] == "und"
    # doc 3: de = und*2*2 + der*2 = 6; en = the*3 + ' th'*2 (' the' after
    # norm-padding gives one ' th' hit) ... compute from the row itself:
    assert rows[3]["score_de"] == rows[3]["score_en"], rows[3]
    assert rows[3]["lang_pred"] == "de"  # alphabetical tie-break


def test_langid_non_overlapping_count(spark):
    from vectorsearch_applications_spark.operators.textstats import langid_ngram

    # 'ününün' normalizes to spaces (non [a-z ]) — instead test with 'inging':
    # non-overlapping 'ing' occurs 2x; weight 2 -> score 4 for en
    docs = spark.createDataFrame([(0, "ingingING")], "doc_id long, text string")
    row = langid_ngram(docs).collect()[0]
    assert row["score_en"] == 2 * 3  # 3 non-overlapping 'ing' after lower()


def test_interval_join_matches_naive_theta(spark):
    from vectorsearch_applications_spark.operators.rangejoin import interval_join

    facts = spark.createDataFrame(
        [(i, t) for i, t in enumerate([0, 5, 10, 86399, 86400, 100000, 200000])],
        "fact_id long, es long",
    )
    iv = spark.createDataFrame(
        [
            (1, 0, 10),          # sub-bucket interval
            (2, 5, 86401),       # crosses a bucket boundary
            (3, 86400, 86400),   # empty: start == end
            (4, 150000, 250000), # overlaps another interval's matches
        ],
        "window_id long, w_start long, w_end long",
    )
    got = interval_join(facts, iv, "es", "w_start", "w_end", 86400)
    naive = facts.join(
        iv,
        (facts["es"] >= iv["w_start"]) & (facts["es"] < iv["w_end"]),
    )
    key = lambda r: (r["fact_id"], r["window_id"])
    assert sorted(map(key, got.collect())) == sorted(map(key, naive.collect()))
    # a fact inside two windows appears once per window
    assert got.filter(F.col("es") == 5).count() == 2


def test_stratified_sample_deterministic_and_monotone(spark):
    from vectorsearch_applications_spark.operators.sampling import (
        stratified_sample,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    ids_20 = {
        r["doc_id"]
        for r in stratified_sample(docs, "lang", {"en": 0.2}).select("doc_id").collect()
    }
    # deterministic: same call, same set — even after a repartition
    ids_20_again = {
        r["doc_id"]
        for r in stratified_sample(docs.repartition(7), "lang", {"en": 0.2})
        .select("doc_id")
        .collect()
    }
    assert ids_20 == ids_20_again and len(ids_20) > 0
    # monotone: raising the rate only ADDS rows
    ids_50 = {
        r["doc_id"]
        for r in stratified_sample(docs, "lang", {"en": 0.5}).select("doc_id").collect()
    }
    assert ids_20 <= ids_50
    # strata without a fraction are dropped entirely (default=0)
    langs = {
        r["lang"]
        for r in stratified_sample(docs, "lang", {"en": 0.5}).select("lang").distinct().collect()
    }
    assert langs == {"en"}
    # rate is approximately honored (md5 uniformity; 218 en docs at smoke SF)
    n_en = docs.filter(F.col("lang") == "en").count()
    assert 0.3 * n_en <= len(ids_50) <= 0.7 * n_en


def test_quantize_embeddings_codes_and_zero_vector(spark):
    from vectorsearch_applications_spark.operators.quantize import (
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        [(0, [0.5, -0.25, 0.0, 0.125]), (1, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    rows = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    # scale = 0.5/127; codes = round(x*127/0.5): [127, -63, 0, 32]
    # (-0.25 -> -63.5 -> floor(-63.5+0.5) = -63; 0.125 -> 31.75 -> 32)
    assert rows[0]["codes"] == [127, -63, 0, 32]
    assert abs(rows[0]["scale"] - 0.5 / 127) < 1e-12
    # zero vector: no division blowup, all-zero codes, scale 0
    assert rows[1]["codes"] == [0, 0, 0, 0] and rows[1]["scale"] == 0.0


def test_quantized_dot_mixed_str_and_column_inputs(spark):
    """quantized_dot takes column names only: all-name inputs score
    exactly, and any Column among the inputs raises instead of binding
    to a silently different expression."""
    import itertools

    import pytest

    from vectorsearch_applications_spark.operators.quantize import (
        quantized_dot,
    )

    df = spark.createDataFrame(
        [([3, -2, 5], [1, 4, -1], 0.5, 0.25), ([0, 7, 1], [2, 2, 2], 0.1, 2.0)],
        "dc array<int>, qc array<int>, ds double, qs double",
    )
    names = ("dc", "qc", "ds", "qs")
    want = [r[0] for r in df.select(quantized_dot(*names)).collect()]
    assert want == [0.5 * 0.25 * (3 - 8 - 5), 0.1 * 2.0 * (14 + 2)]
    for mask in itertools.product((False, True), repeat=4):
        if not any(mask):
            continue
        args = [F.col(n) if m else n for n, m in zip(names, mask)]
        with pytest.raises(TypeError, match="column name"):
            quantized_dot(*args)


def test_profile_columns_escapes_awkward_column_names(spark):
    """Names with a backslash, a single quote or a space round-trip
    through column_name with their stats intact."""
    from vectorsearch_applications_spark.operators.profiling import (
        profile_columns,
    )

    cols = ["back\\slash", "it's", "two words"]
    df = spark.createDataFrame(
        [(1, 10, None), (2, 10, 5), (None, 30, 5)],
        ", ".join(f"`{c}` int" for c in cols),
    )
    got = {
        r["column_name"]: tuple(r)[1:]
        for r in profile_columns(df, cols).collect()
    }
    assert got == {
        "back\\slash": (1, 2, "1", "2"),
        "it's": (0, 2, "10", "30"),
        "two words": (1, 1, "5", "5"),
    }


def test_quantized_search_recall_vs_exact(spark):
    """Int8 quantization must preserve cosine ranking almost perfectly:
    top-10 overlap with exact float kNN >= 0.8 averaged over queries."""
    from vectorsearch_applications_spark.queries import QUERIES

    exact = {}
    for r in QUERIES["knn_search"](spark, SF_SMOKE).collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])
    quant = {}
    for r in QUERIES["ann_quantized_search"](spark, SF_SMOKE).collect():
        quant.setdefault(r["query_id"], set()).add(r["vec_id"])
    qids = set(exact) & set(quant)  # knn uses vec_id<5, quantized <3
    assert qids == {0, 1, 2}
    recalls = [len(exact[q] & quant[q]) / 10 for q in qids]
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_ivf_refine_objective_monotone_and_exhaustive_still_exact(spark):
    """Lloyd rounds never increase the k-means objective, and an
    exhaustive probe over the refined codebook is still exactly kNN
    (bucketing never changes scored distances)."""
    from vectorsearch_applications_spark.operators.ann import (
        ivf_build,
        ivf_refine,
        ivf_search,
        kmeans_objective,
        _assign,
    )
    from vectorsearch_applications_spark.operators.knn import (
        knn_search_crossjoin,
    )

    corpus = spark.createDataFrame(
        [(i, [float((i * 13 + d * 5) % 17 - 8) for d in range(6)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    ).selectExpr(
        "vec_id",
        "transform(embedding, x -> x / sqrt(aggregate(transform(embedding, y -> y*y), 0D, (a,y) -> a+y))) AS embedding",
    )
    centroids, _ = ivf_build(corpus, n_centroids=5)
    obj0 = kmeans_objective(corpus, centroids)
    c1 = ivf_refine(corpus, centroids, iterations=1)
    obj1 = kmeans_objective(corpus, c1)
    c2 = ivf_refine(corpus, c1, iterations=1)
    obj2 = kmeans_objective(corpus, c2)
    assert obj1 <= obj0 + 1e-9 and obj2 <= obj1 + 1e-9

    queries = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    refined_assign = _assign(corpus, c2, "vec_id", "embedding")
    approx = ivf_search(corpus, c2, refined_assign, queries, k=5, nprobe=5)
    exact = knn_search_crossjoin(corpus, queries, k=5)
    a = {(r["query_id"], r["vec_id"], r["rank"]) for r in approx.collect()}
    e = {(r["query_id"], r["vec_id"], r["rank"]) for r in exact.collect()}
    assert a == e


def test_pack_sequences_oversized_doc_and_partial_tail(spark):
    from vectorsearch_applications_spark.operators.topk import pack_sequences

    # one shard (n_shards=1): docs in id order with budget 10
    docs = spark.createDataFrame(
        [(1, 4), (2, 25), (3, 3)], "doc_id long, n_tokens long"
    )
    out = {
        (r["bin_id"]): (r["n_docs"], r["bin_tokens"])
        for r in pack_sequences(docs, budget=10, n_shards=1).collect()
    }
    # concat stream: doc1 [0,4), doc2 [4,29), doc3 [29,32); cuts at 10,20,30
    # bin 0: doc1+doc2 start; bins 1,2 all-middle of doc2 (no row);
    # bin 2 starts doc3? doc3 starts at 29 -> bin 2; bin 3 tail 32-30=2
    assert out[0] == (2, 10)
    assert 1 not in out
    assert out[2] == (1, 10)
    assert len(out) == 2  # total=32 -> last bin is 3, but no doc starts there


def test_knn_prf_moves_query_toward_feedback_cluster(spark):
    # r8: Rocchio semantics — a query equidistant-ish between two tight
    # clusters must, after feedback on its top-k (the majority cluster),
    # rank that cluster's members strictly ahead of the other's
    from vectorsearch_applications_spark.operators.knn import (
        knn_prf_search,
    )

    a = [1.0, 0.0, 0.0]
    b = [0.0, 1.0, 0.0]
    rows = (
        [(i, [0.99, 0.01 * (i + 1), 0.0]) for i in range(8)]  # cluster A
        + [(10 + i, [0.01 * (i + 1), 0.99, 0.0]) for i in range(3)]  # B
    )
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    # query leans slightly toward A → top-8 feedback is mostly A → q'
    # should pull further into A
    q = spark.createDataFrame(
        [(0, [0.72, 0.69, 0.0])], "query_id long, query_vec array<double>"
    )
    hits = knn_prf_search(corpus, q, k=11, fb_k=8).collect()
    ranks = {r["vec_id"]: r["rank"] for r in hits}
    worst_a = max(ranks[i] for i in range(8))
    best_b = min(ranks[10 + i] for i in range(3))
    assert worst_a < best_b


def test_knn_chunking_terminates_on_duplicate_ids(spark):
    # pathological: 300 rows sharing ONE query_id can never be split by
    # the id hash — the recursion must bottom out (depth cap) and
    # collect the chunk whole instead of re-chunking forever
    from vectorsearch_applications_spark.sources.io import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    one = emb.filter(F.col("vec_id") == 0).select(
        F.lit(7).alias("query_id"), F.col("embedding").alias("query_vec")
    )
    dup = one
    for _ in range(4):
        dup = dup.unionByName(dup)  # 16 copies
    hits = knn_search(emb, dup, k=3, max_collect_queries=5).collect()
    assert {(r["query_id"], r["rank"]) for r in hits} == {
        (7, 1), (7, 2), (7, 3)
    }


def test_knn_prf_small_corpus_uses_true_mean(spark):
    # corpus smaller than fb_k: the centroid must divide by the ACTUAL
    # feedback count (a fixed /fb_k would shrink the pull and diverge
    # from the oracle's NULL-free coalesce chain)
    from vectorsearch_applications_spark.operators.knn import (
        knn_prf_search,
    )

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.6, 0.8])],
        "vec_id long, embedding array<double>",
    )
    q = spark.createDataFrame(
        [(0, [1.0, 0.0])], "query_id long, query_vec array<double>"
    )
    hits = knn_prf_search(corpus, q, k=3, fb_k=8).collect()
    assert len(hits) == 3
    # q' = q + mean(all 3) = (1,0) + (1.6/3, 1.8/3); nearest by dot is
    # vec 1 (dot 1.533…) then 3 (dot 1.4) then 2 (dot 0.6)
    order = [r["vec_id"] for r in sorted(hits, key=lambda r: r["rank"])]
    assert order == [1, 3, 2]


def test_hybrid_fusion_sql_construction_bitwise_equal(spark):
    """r12 §12: minmax_normalize + hybrid_search's SQL-parsed window /
    weight / fusion expressions must match the retired Column forms
    (rebuilt inline) bitwise — including the degenerate constant-score
    group (norm 0.0) and docs present in only one arm."""
    from pyspark.sql import Window

    from vectorsearch_applications_spark.operators.hybrid import hybrid_search

    kw = spark.createDataFrame(
        [(0, 10, 2.5), (0, 11, 1.5), (0, 12, 1.0), (1, 10, 3.0), (1, 13, 3.0)],
        "query_id long, doc_id long, score double",
    )
    vec = spark.createDataFrame(
        [(0, 10, 0.1), (0, 14, 0.4), (1, 13, 0.2), (1, 10, 0.2)],
        "query_id long, doc_id long, distance double",
    )
    alpha = 0.25
    new = hybrid_search(kw, vec, alpha=alpha, limit=10).collect()

    def old_minmax(df, value_col, group_cols, out_col="norm"):
        w = Window.partitionBy(*group_cols)
        rng = F.max(value_col).over(w) - F.min(value_col).over(w)
        return df.withColumn(
            out_col,
            F.when(rng == 0, F.lit(0.0)).otherwise(
                (F.col(value_col) - F.min(value_col).over(w)) / rng
            ),
        )

    kw_n = old_minmax(
        kw.select("query_id", "doc_id", "score"), "score", ["query_id"]
    ).select(
        "query_id", "doc_id", (F.col("norm") * F.lit(1.0 - alpha)).alias("kw_score")
    )
    vec_n = old_minmax(
        vec.select(
            "query_id", "doc_id", (F.lit(1.0) - F.col("distance")).alias("sim")
        ),
        "sim",
        ["query_id"],
    ).select(
        "query_id", "doc_id", (F.col("norm") * F.lit(alpha)).alias("vec_score")
    )
    fused = kw_n.join(vec_n, ["query_id", "doc_id"], "full_outer").withColumn(
        "score",
        F.coalesce("kw_score", F.lit(0.0)) + F.coalesce("vec_score", F.lit(0.0)),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    old = (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "doc_id", "rank", "score")
        .collect()
    )
    assert sorted(map(repr, new)) == sorted(map(repr, old))


def test_retrieval_metrics_sql_construction_bitwise_equal(spark):
    """r12 §12: retrieval_metrics' SQL-parsed aggregates must match the
    retired Column forms (rebuilt inline) bitwise — in particular the mrr
    reciprocal must stay a DOUBLE division (1.0D), not decimal."""
    from vectorsearch_applications_spark.operators.evaluation import (
        retrieval_metrics,
    )

    hits = spark.createDataFrame(
        [("kw", 0, 100, 1), ("kw", 0, 0, 3), ("kw", 1, 7, 2), ("vec", 0, 0, 1)],
        "method string, query_id long, doc_id long, rank long",
    )
    golden = spark.createDataFrame(
        [(0, 0), (1, 1), (2, 2)], "query_id long, relevant_doc_id long"
    )
    new = retrieval_metrics(
        hits, golden, method_col="method", methods=["kw", "vec"]
    ).collect()

    method_df = spark.createDataFrame([("kw",), ("vec",)], "method string")
    base = golden.select("query_id", "relevant_doc_id").crossJoin(method_df)
    per_query = (
        base.join(hits, ["method", "query_id"], "left")
        .groupBy("method", "query_id")
        .agg(
            F.min(
                F.when(
                    F.col("doc_id") == F.col("relevant_doc_id"), F.col("rank")
                )
            ).alias("hit_rank")
        )
    )
    old = (
        per_query.groupBy("method")
        .agg(
            F.count("*").alias("n_queries"),
            F.sum(
                F.when(F.col("hit_rank").isNotNull(), 1).otherwise(0)
            ).alias("raw_hits"),
            F.round(
                F.sum(F.when(F.col("hit_rank").isNotNull(), 1).otherwise(0))
                / F.count("*"),
                2,
            ).alias("hit_rate"),
            F.round(
                F.sum(F.coalesce(1.0 / F.col("hit_rank"), F.lit(0.0)))
                / F.count("*"),
                2,
            ).alias("mrr"),
            F.sum(
                F.when(F.col("hit_rank").isNull(), 1).otherwise(0)
            ).alias("total_misses"),
        )
        .collect()
    )
    assert sorted(map(repr, new)) == sorted(map(repr, old))


def test_langid_ngram_sql_construction_bitwise_equal(spark):
    """langid_ngram's SQL-parsed score/argmax select must match the same
    trees assembled through the DataFrame API (rebuilt inline) bitwise,
    including the 'und' zero-score docs and the alphabetical tie-break."""
    from vectorsearch_applications_spark.operators.textstats import (
        LANG_PROFILES,
        langid_ngram,
    )

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox and the lazy dog sing"),
            (2, "der ich und sch ein da"),
            (3, "zzzz 9999"),
            (4, ""),
            (5, " de la el que en os ar "),
            (6, " le de et les ent ait ous "),
        ],
        "doc_id long, text string",
    )
    new = langid_ngram(df).collect()

    profiles = {k: LANG_PROFILES[k] for k in sorted(LANG_PROFILES)}
    langs = list(profiles)

    def _score(t, grams):
        total = None
        for g, w in sorted(grams.items()):
            hit = F.length(t) - F.length(F.replace(t, F.lit(g), F.lit("")))
            term = hit * F.lit(w)
            total = term if total is None else total + term
        return (total / F.lit(3)).cast("bigint")

    # space-padded, lowercased, [a-z ]-only text — the gram alphabet
    norm = F.concat(
        F.lit(" "),
        F.regexp_replace(F.lower(F.col("text")), "[^a-z ]", " "),
        F.lit(" "),
    )

    def _score_col(grams):
        return F.transform(F.array(norm), lambda t: _score(t, grams))[0]

    scored = df.select(
        F.col("doc_id"),
        *[_score_col(g).alias(f"score_{lang}") for lang, g in profiles.items()],
    )
    best = F.greatest(*[F.col(f"score_{l}") for l in langs])
    pred = F.when(best <= 0, F.lit("und"))
    for l in langs:
        pred = pred.when(F.col(f"score_{l}") == best, F.lit(l))
    old = scored.select(
        "doc_id",
        *[f"score_{l}" for l in langs],
        pred.otherwise(F.lit("und")).alias("lang_pred"),
        best.alias("lang_score"),
    ).collect()
    assert sorted(map(repr, new)) == sorted(map(repr, old))


def test_isin_ints_sql_construction_bitwise_equal(spark):
    """isin_ints' parsed `col IN (...)` fast path (one py4j round trip)
    must select exactly the rows of Column.isin's element-by-element
    literal list (r12: a 500-id candidate re-entry cost ~2,029 round
    trips through Column.isin), including the empty-list and
    non-int-fallback branches and hostile column names."""
    from vectorsearch_applications_spark.functions.vectors import isin_ints

    df = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(-5, 50)], "id long, s string"
    )
    ids = [-4, 0, 3, 7, 11, 19, 42]
    a = df.filter(isin_ints("id", ids)).collect()
    b = df.filter(F.col("id").isin(ids)).collect()
    assert sorted(map(repr, a)) == sorted(map(repr, b)) and len(a) == 7

    # empty list short-circuits to no rows (the callers' old
    # `if ids else F.lit(False)` contract, now inside the helper)
    assert df.filter(isin_ints("id", [])).count() == 0

    # non-int values take the Column.isin fallback, same rows
    a = df.filter(isin_ints("s", ["s0", "s2"])).collect()
    b = df.filter(F.col("s").isin(["s0", "s2"])).collect()
    assert sorted(map(repr, a)) == sorted(map(repr, b)) and a

    # bools are NOT ints here (type() check): fallback path, same rows
    bf = spark.createDataFrame([(True,), (False,)], "b boolean")
    assert bf.filter(isin_ints("b", [True])).count() == 1

    # hostile column name: backtick doubles, still parses
    h = df.selectExpr("id AS `i``d`")
    assert h.filter(isin_ints("i`d", [3, 7])).count() == 2


def test_tokenize_sql_matches_column_path_under_both_parser_confs(spark):
    """The SQL-fragment tokenizers must produce bitwise-identical token
    arrays to the same trees assembled through the DataFrame API under
    BOTH settings of spark.sql.parser.escapedStringLiterals (the
    escape-free character class was reverted for its 3-5x split cost,
    so the \\W+ literal must be escaped per the ACTIVE session's parser
    conf; the BPE pattern also carries a quote)."""
    from vectorsearch_applications_spark.functions.text import (
        BPE_PATTERN,
        TOKEN_PATTERN,
        bpe_tokenize,
        sql_token_pattern_literal,
        tokenize,
        tokenize_sql,
    )
    from vectorsearch_applications_spark.functions.vectors import sql_ident

    df = spark.createDataFrame(
        [("Hello, wörld! a_b--c 42",), ("",), ("...",), ("ONE two\tthree",)],
        "t string",
    )
    conf_key = "spark.sql.parser.escapedStringLiterals"
    saved = spark.conf.get(conf_key, "false")
    try:
        for esc in ("false", "true"):
            spark.conf.set(conf_key, esc)
            lit = sql_token_pattern_literal()
            assert lit == (r"\W+" if esc == "true" else "\\\\W+")
            a = df.select(F.expr(tokenize_sql("t")).alias("x")).collect()
            b = df.select(tokenize("t").alias("x")).collect()
            ref = df.select(
                F.filter(
                    F.split(F.lower(F.col("t")), TOKEN_PATTERN),
                    lambda x: x != F.lit(""),
                ).alias("x")
            ).collect()
            assert list(map(repr, a)) == list(map(repr, ref))
            assert list(map(repr, b)) == list(map(repr, ref))
            assert a[0].x == ["hello", "w", "rld", "a_b", "c", "42"]
            quoted = df.union(
                spark.createDataFrame([("Don't stop!! it's \\s 'q'",)], "t string")
            )
            bpe = quoted.select(bpe_tokenize("t").alias("x")).collect()
            assert bpe[-1].x == [
                "don", "'t", " stop", "!!", " it", "'s", " \\", "s", "'q",
            ]
            bpe_ref = quoted.select(
                F.regexp_extract_all(
                    F.lower(F.col("t")), F.lit(BPE_PATTERN), 0
                ).alias("x")
            ).collect()
            assert list(map(repr, bpe)) == list(map(repr, bpe_ref))
    finally:
        spark.conf.set(conf_key, saved)

    # sql_ident: hostile backticked name round-trips through a parse
    h = df.selectExpr("t AS `t``x`")
    got = h.select(F.expr(f"length({sql_ident('t`x')})").alias("n")).count()
    assert got == 4


def test_ivf_search_on_nested_vector_columns_matches_top_level(spark):
    """sql_ident binds a dotted name the way F.col does: an ivf_search
    whose corpus and query vectors sit inside structs returns the same
    rows as the same search on top-level vector columns."""
    from vectorsearch_applications_spark.functions.vectors import sql_ident
    from vectorsearch_applications_spark.operators.ann import (
        ivf_build,
        ivf_search,
    )

    assert sql_ident("meta.emb") == "`meta`.`emb`"
    assert sql_ident("`a.b`.c") == "`a.b`.`c`"
    assert sql_ident("t`x") == "`t``x`"
    emb = load_table(spark, SF_SMOKE, "embeddings")
    corpus = emb.filter(F.col("vec_id") < 200).select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    centroids, assignments = ivf_build(corpus, n_centroids=4)
    flat = ivf_search(corpus, centroids, assignments, queries, k=5, nprobe=2)
    nested = ivf_search(
        corpus.select("vec_id", F.struct("embedding").alias("doc")),
        centroids,
        assignments,
        queries.select("query_id", F.struct(F.col("query_vec").alias("emb")).alias("meta")),
        vec_col="doc.embedding",
        query_vec_col="meta.emb",
        k=5,
        nprobe=2,
    )
    want = sorted(flat.collect())
    assert len(want) == 20
    assert sorted(nested.collect()) == want

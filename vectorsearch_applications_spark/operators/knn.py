"""Exact cosine kNN over an embedding column (SURVEY.md Q2).

The reference calls Weaviate's HNSW (``weaviate_interface_v4.py:246-287``,
returns ``distance`` = 1 − cosine). Exact brute-force kNN is the semantic
definition here (the oracle); the ANN path (IVF buckets, operators/ann.py)
is an opt-in physical strategy that must agree with this on recall checks.

Two physical strategies that return the same ids in the same order. Their
distances can differ in the last ulp (up to 2.2e-16 measured): the numpy
float64 matmul sums a dot product in a different order than the SQL
fold. ``tests/test_operators.py:test_knn_partial_equals_crossjoin``
therefore compares ids only.

- ``knn_search`` (default, the scale path): broadcast the query matrix,
  compute per-partition partial top-k with one numpy (float64) matmul per
  Arrow batch via ``mapInPandas``, then reduce partials with a final window.
  Shuffle volume is O(partitions × queries × k) instead of O(rows × queries)
  — at 1B vectors × 100 queries × k=10 that's thousands of rows, not 1e11.

- ``knn_search_crossjoin``: pure Catalyst expressions (zip_with/aggregate
  dot product + window). Clearer plan, JVM-only, fine when corpus × queries
  is small; the window shuffles all scored rows.

Both order by (distance asc, id asc) — fully deterministic for hash-match.
An optional ``pre_filter`` implements Weaviate's *filtered* vector search
semantics (filter BEFORE ranking — SURVEY P6), which Catalyst pushes into
the parquet scan.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cast_double_sql, dot_double_sql, sql_ident


def knn_search_crossjoin(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
    pre_filter: Column | None = None,
) -> DataFrame:
    """Reference-shaped exact kNN as one declarative plan."""
    if pre_filter is not None:
        corpus = corpus.filter(pre_filter)
    # cast both sides to double once per ROW — cosine_distance inside the
    # crossjoin would re-cast the corpus vector once per QUERY (|Q|×) and
    # allocate two temp arrays per pair (same fold, bitwise-equal output)
    scored = (
        corpus.select(
            F.col(id_col).alias("vec_id"),
            F.expr(cast_double_sql(sql_ident(vec_col))).alias("_v"),
        )
        .crossJoin(
            F.broadcast(
                queries.select(
                    F.col(query_id_col).alias("query_id"),
                    F.expr(cast_double_sql(sql_ident(query_vec_col))).alias("_q"),
                )
            )
        )
        .withColumn(
            "distance", F.expr(f"1.0D - {dot_double_sql('_v', '_q')}")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("distance"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "distance")
    )


def knn_search(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
    pre_filter: Column | None = None,
    max_collect_queries: int = 100_000,
    _chunk_depth: int = 0,
) -> DataFrame:
    """Partial-top-k exact kNN (the 100 TB plan). See module docstring.

    The query side is collected to the driver for the in-UDF matmul, so
    an oversized query set would OOM the driver; past
    ``max_collect_queries`` rows the call auto-CHUNKS the query set by a
    deterministic id hash and unions the per-chunk results (queries are
    independent, so the union is exact — equality-tested across the
    boundary in test_operators.py). Chunking, not the crossjoin twin, on
    purpose: the crossjoin broadcasts the query side, so routing an
    oversized set there would just move the same OOM from the Python
    closure to the driver-built broadcast relation (8 GB hard cap) and
    shuffle |corpus|·|Q| scored rows through its window. Each chunk's
    closure is bounded; the corpus is scanned once per chunk — at
    |Q| ≫ 1e7 stop brute-forcing and co-partition with the IVF path
    instead (operators/ann.py). The guard is free on the fast path: the
    collect it needs anyway becomes a take(n+1).
    """
    # Queries are collected once to the driver and broadcast inside the UDF
    # closure — this is the "broadcast small dim" side, typically ≤ a few
    # thousand rows; the corpus side streams through executors untouched.
    q_rows = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("qv")
    ).take(max_collect_queries + 1)
    if len(q_rows) > max_collect_queries and _chunk_depth < 2:
        # _chunk_depth bounds the re-chunk recursion: the id hash splits
        # distinct ids near-uniformly, so a chunk that STILL overflows
        # after two levels means pathological duplicate query ids (which
        # the rank window merges anyway) — that chunk then collects
        # whole rather than recursing forever.
        n = queries.count()
        n_chunks = max(2, -(-n // max_collect_queries))  # ceil, ≥2
        # salt the hash by depth: successive splits must be independent.
        # An unsalted hash re-used at depth 1 assigns a fixed residue to
        # every id of the parent chunk, so when the two moduli share a
        # factor the ids collapse into a subset of sub-chunks and the
        # depth-2 fallback can collect an oversized chunk whole — the
        # driver-OOM path this guard exists to avoid.
        chunk = F.pmod(
            F.xxhash64(F.col(query_id_col), F.lit(_chunk_depth)),
            F.lit(int(n_chunks)),
        )
        out = None
        for i in range(int(n_chunks)):
            part = knn_search(
                corpus,
                queries.filter(chunk == i),
                id_col,
                vec_col,
                query_id_col,
                query_vec_col,
                k,
                pre_filter,
                max_collect_queries,
                _chunk_depth + 1,
            )
            out = part if out is None else out.unionByName(part)
        return out
    if len(q_rows) > max_collect_queries:
        # pathological duplicate-id chunk: collect it whole (bounded by
        # the duplicate mass, not the query-set size)
        q_rows = queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("qv"),
        ).collect()
    if pre_filter is not None:
        corpus = corpus.filter(pre_filter)
    import numpy as np

    if not q_rows:
        # empty query set → empty result with the right schema (matches
        # knn_search_crossjoin; a (0,)-shaped matmul would crash the job)
        from ..sources.io import one_slice_df

        return one_slice_df(
            queries.sparkSession,
            [],
            "query_id string, vec_id string, rank int, distance double",
        ).select(
            F.col("query_id").cast(
                queries.schema[query_id_col].dataType
            ),
            F.col("vec_id").cast(corpus.schema[id_col].dataType),
            "rank",
            "distance",
        )
    q_ids = [r["query_id"] for r in q_rows]
    q_mat = np.array([r["qv"] for r in q_rows], dtype=np.float64)  # Q × D

    slim = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v"))

    def partial_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np  # executor-side

        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.array(pdf["_v"].to_list(), dtype=np.float64)  # B × D
            sims = mat @ q_mat.T  # B × Q, float64 so the oracle agrees
            dists = 1.0 - sims
            ids = pdf["vec_id"].to_numpy()
            kk = min(k, len(ids))
            out_q, out_id, out_d = [], [], []
            for j, qid in enumerate(q_ids):
                col = dists[:, j]
                # partial top-k with (distance, vec_id) tie-break
                order = np.lexsort((ids, col))[:kk]
                out_q.extend([qid] * len(order))
                out_id.extend(ids[order])
                out_d.extend(col[order])
            yield pd.DataFrame(
                {"query_id": out_q, "vec_id": out_id, "distance": out_d}
            )

    qid_type = (
        queries.select(F.col(query_id_col).alias("query_id"))
        .schema["query_id"]
        .dataType.simpleString()
    )
    vid_type = slim.schema["vec_id"].dataType.simpleString()
    partials = slim.mapInPandas(
        partial_topk,
        schema=f"query_id {qid_type}, vec_id {vid_type}, distance double",
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("distance"), F.asc("vec_id"))
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "distance")
    )


def knn_prf_search(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    fb_k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Pseudo-relevance feedback for VECTOR search — Rocchio with the
    classic α=β=1 shape: take each query's top ``fb_k`` neighbors, move
    the query toward their centroid (q' = q + mean(feedback vectors)),
    and re-rank the corpus against q'. The dense twin of
    ``bm25_prf_search`` (operators/bm25.py:378) — between them both
    retrieval arms have a feedback round.

    Determinism discipline: the centroid sum folds the feedback vectors
    in ROUND-1 RANK ORDER starting from an explicit 0.0 array (the
    oracle restates the identical left-associated chain
    ``0.0 + v1 + … + v8`` per dimension), so q' is bit-reproducible; the
    re-ranking ORDERS on the 4-decimal-rounded distance with the id
    tie-break (feedback can make several docs' distances equal up to
    summation-order ulps — raw-double ordering would flap). The mean
    divides by the ACTUAL feedback count, so corpora smaller than
    ``fb_k`` still get a true Rocchio mean.

    Scale shape: round 1 is knn_search (partial top-k, corpus never
    shuffles); the feedback join touches fb_k·|Q| rows; the centroid agg
    is |Q| rows; round 2 is the broadcast-queries crossjoin scoring —
    i.e. two corpus scans total, shuffle bounded by |Q|·k.
    """
    r1 = knn_search(
        corpus,
        queries,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        k=fb_k,
    )

    corp = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.expr(cast_double_sql(sql_ident(vec_col))).alias("_v"),
    )
    fb = r1.join(corp, "vec_id").select("query_id", "rank", "_v")

    # the rank-ordered Rocchio fold parses from ONE SQL string — the
    # explicit 0.0D init keeps the oracle's '0.0 + v1 + …' chain (and
    # never starts at -0.0)
    _ranked = "transform(array_sort(collect_list(struct(rank, _v))), s -> s._v)"
    cent = fb.groupBy("query_id").agg(
        F.expr(
            f"aggregate({_ranked}, "
            f"transform(element_at({_ranked}, 1), x -> 0.0D), "
            "(acc, v) -> zip_with(acc, v, (a, b) -> a + b)) AS _s"
        ),
        # divide by the ACTUAL feedback count, not fb_k — a corpus
        # smaller than fb_k must still yield a true mean (and the oracle
        # coalesces missing pivot slots to 0.0 + divides by this count)
        F.expr("CAST(count(1) AS DOUBLE) AS _nfb"),
    )
    q2 = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.expr(cast_double_sql(sql_ident(query_vec_col))).alias("_q"),
        )
        .join(cent, "query_id")
        .select(
            "query_id",
            F.expr(
                "zip_with(_q, _s, (a, b) -> a + (b / _nfb))"
            ).alias("_q2"),
        )
    )
    # round-2 scoring inline (NOT knn_search_crossjoin): feedback can
    # make several docs' q'-distances equal up to summation-order ulps,
    # so ranking must use the 4-decimal-rounded distance with the id
    # tie-break — the same float-tie discipline as late_interaction
    scored = (
        corpus.select(
            F.col(id_col).alias("vec_id"),
            F.expr(cast_double_sql(sql_ident(vec_col))).alias("_v"),
        )
        .crossJoin(F.broadcast(q2))
        .select(
            "query_id",
            "vec_id",
            F.expr(f"1.0D - {dot_double_sql('_v', '_q2')}").alias(
                "distance"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc(F.round("distance", 4)), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "distance")
    )

"""Approximate nearest neighbor — the 100 TB physical strategy for Q2.

Exact kNN (operators/knn.py) is the semantic definition; this module is the
opt-in approximate path (SURVEY.md §4 "what needs custom Spark work" #1):

IVF (inverted-file) bucketing with deterministic centroids:
  1. pick C centroids deterministically (every ⌈n/C⌉-th vector by id — no
     random init, so builds are reproducible; k-means refinement is an
     optional extra pass with fixed seed);
  2. assign every vector to its nearest centroid (one broadcast matmul
     pass — the *index build*, persisted as a parquet table);
  3. at query time probe only the ``nprobe`` nearest centroid buckets per
     query — the scan touches n·nprobe/C of the corpus instead of all of it.

Recall is measured against exact kNN (tests/test_ann.py) — the harness the
SURVEY §7 phase-4 plan calls for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import (
    cast_double_sql,
    dot_double_sql,
    l2_normalize_sql,
    sql_ident,
)
from ..sources.index_catalog import (
    index_compact_if_reviving,
    index_dir,
    index_live,
    index_reset,
)
from ..sources.io import read_parquet
from .knn import knn_search_crossjoin


def ivf_build(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    keep_vec: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Returns (centroids, assignments).

    centroids: (centroid_id, centroid) — deterministic stride sample.
    assignments: (vec_id, centroid_id) — nearest-centroid partition map.
    Persist both next to the collection; incremental appends only re-assign
    the new rows. ``keep_vec=True`` adds the vector as ``_v`` so an
    in-plan ivf_search skips the corpus⋈assignment id join (one whole
    corpus shuffle); leave False for the persisted/streamed index format.
    """
    # one full count (the documented index-build scan) sizes the sampling
    # rate; the centroid sample is a distributed filter + partial top-k —
    # no global single-partition window over the corpus
    n = corpus.count()
    # hash-mod sampling: deterministic AND uniform for ANY id distribution
    # (sparse, hashed, or offset ids — a plain `id % stride` picks 0 rows
    # when no id happens to be divisible). 4× oversample keeps the
    # probability of drawing fewer than n_centroids candidates negligible;
    # the ordered limit then takes the first n_centroids by hash.
    rate = max(1, n // max(1, 4 * n_centroids))
    sampled = (
        corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("centroid"))
        .filter(F.pmod(F.xxhash64(F.col("_id")), F.lit(rate)) == 0)
        .orderBy(F.asc("_id"))
        .limit(n_centroids)  # TakeOrderedAndProject: per-partition top-k
    )
    # numbering runs on ≤ n_centroids rows — the tiny frame makes the
    # unpartitioned window harmless
    w = Window.orderBy(F.asc("_id"))
    centroids = sampled.select(
        (F.row_number().over(w) - 1).cast("int").alias("centroid_id"),
        "centroid",
    )
    # Nearest-centroid assignment as a MAP-SIDE argmin: broadcast the
    # centroid table as ONE array-of-structs row, compute all C distances
    # per vector in a single projection, and take array_min on
    # (distance, centroid_id) structs (lexicographic struct ordering = the
    # asc-distance, asc-id tie-break). The windowed alternative shuffles
    # corpus × C rows — at 100 TB that shuffle IS the index-build cost;
    # this plan never shuffles the corpus at all.
    return centroids, _assign(
        corpus, centroids, id_col, vec_col, keep_vec=keep_vec
    )


def _assign(
    rows: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    keep_vec: bool = False,
) -> DataFrame:
    """(vec_id, centroid_id) nearest-centroid map for ``rows`` — the
    shuffle-free projection shared by the full build and ivf_append.
    ``keep_vec=True`` carries the vector through as ``_v`` so callers
    that need (id, vector, centroid) on one row (SemDeDup's pair join)
    don't have to join the corpus back against its own assignment —
    that join is a full corpus shuffle the argmin projection never
    needed.

    ``_v`` is cast to double ONCE in the input projection; the argmin
    then folds raw against the (also pre-cast) codebook — the old
    per-centroid cosine_distance re-cast the row vector C times per
    row. Bitwise-identical: cast-then-fold is the same fold.

    The argmin expression parses from ONE SQL string (r11: the
    DataFrame-API assembly cost ~80 py4j round trips per call on a hot
    interactive path — same tree either way, bitwise-identical)."""

    picked = F.expr(
        "array_min(transform(_cents, c -> struct("
        f"1.0D - {dot_double_sql('_v', 'c.centroid')} AS d, "
        "c.centroid_id AS centroid_id))).centroid_id"
    ).alias("centroid_id")
    out = ["vec_id"] + (["_v"] if keep_vec else [])
    return (
        rows.select(
            F.col(id_col).alias("vec_id"),
            F.expr(cast_double_sql(sql_ident(vec_col))).alias("_v"),
        )
        .crossJoin(F.broadcast(_centroid_array(centroids)))
        .select(*out, picked)
    )


def assign_nearest_centroid(
    rows: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = False,
) -> DataFrame:
    """Public alias of the broadcast-argmin assignment — shared by IVF and
    the SemDeDup clustering step (operators/dedup.py semantic_dedup)."""
    return _assign(rows, centroids, id_col, vec_col, keep_vec=keep_vec)


def ivf_refine(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 2,
) -> DataFrame:
    """Lloyd (k-means) refinement of the IVF codebook — the optional extra
    pass the ivf_build docstring promises. Better centroids concentrate
    each query's true neighbors into fewer buckets, so the same recall
    needs a smaller ``nprobe`` — at 100 TB that directly scales down the
    per-query candidate scan.

    Each iteration is two map-side-friendly steps, no corpus shuffle other
    than the re-centering aggregation itself:
      1. nearest-centroid assignment via the broadcast argmin projection
         (shared ``_assign`` machinery, corpus never shuffled);
      2. re-centering: posexplode to (centroid_id, pos, x) and aggregate
         sum/count — partial aggregation reduces the n·d rows to C·d per
         partition map-side before the one shuffle.
    Empty clusters keep their previous centroid (left-join + coalesce).
    Lineage is cut per round with localCheckpoint so plans stay flat.
    """
    for _ in range(iterations):
        assigned = _assign(
            corpus, centroids, id_col, vec_col, keep_vec=True
        ).select("centroid_id", "_v")
        means = (
            assigned.select(
                "centroid_id", F.posexplode("_v").alias("pos", "x")
            )
            .groupBy("centroid_id", "pos")
            .agg((F.sum("x") / F.count("*")).alias("m"))
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("_mean")
            )
            # Spherical k-means: corpus vectors are unit-normalized and the
            # scorer is 1 − dot, so the update step must emit the mean
            # *direction* — the unit vector maximizing within-cluster dot.
            # An unnormalized mean (norm < 1) would deflate every dot and
            # break Lloyd monotonicity. Zero-norm means (antipodal cluster,
            # measure-zero) fall back to the previous centroid via the
            # coalesce below.
            .selectExpr(
                "centroid_id",
                "CASE WHEN sqrt(aggregate(transform(_mean, x -> x * x), 0.0D, "
                f"(a, x) -> a + x)) > 0 THEN {l2_normalize_sql('_mean')} END "
                "AS new_centroid",
            )
        )
        centroids = (
            centroids.join(means, "centroid_id", "left")
            .select(
                "centroid_id",
                F.coalesce("new_centroid", F.col("centroid").cast("array<double>")).alias(
                    "centroid"
                ),
            )
            .localCheckpoint(eager=True)
        )
    return centroids


def kmeans_objective(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> float:
    """Mean nearest-centroid cosine distance over the corpus — the k-means
    objective Lloyd iterations monotonically non-increase (test harness)."""
    return (
        corpus.select(F.expr(cast_double_sql(sql_ident(vec_col))).alias("_v"))
        .crossJoin(F.broadcast(_centroid_array(centroids)))
        .selectExpr(
            "array_min(transform(_cents, c -> "
            f"1.0D - {dot_double_sql('_v', 'c.centroid')})) AS d"
        )
        .agg(F.avg("d"))
        .collect()[0][0]
    )


def ivf_append(
    centroids: DataFrame,
    assignments: DataFrame,
    new_rows: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental index maintenance: assign ONLY the appended rows against
    the frozen codebook and union with the existing assignment table — the
    foreachBatch-friendly path (same shape as the BM25 incremental stats
    merge, operators/bm25.py). The append touches new_rows only; the
    existing corpus is never rescanned. Centroid drift under heavy append
    is handled by a periodic full ivf_build, not here."""
    return assignments.unionByName(_assign(new_rows, centroids, id_col, vec_col))


def _centroid_array(centroids: DataFrame) -> DataFrame:
    """(centroid_id, centroid) rows → one row holding the whole codebook as
    array<struct<centroid_id,centroid>> (sorted by id for determinism).
    Broadcast-crossjoined so per-row distance loops run without any join or
    shuffle."""
    # centroid vectors are cast to double HERE, once per codebook row —
    # every downstream distance loop then folds raw (dot_double) instead
    # of re-casting per (row × centroid) evaluation. Struct order is
    # unchanged: array_sort compares centroid_id (unique) first.
    return centroids.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("centroid_id"),
                    F.expr(cast_double_sql("centroid")).alias("centroid"),
                )
            )
        ).alias("_cents")
    )


def ivf_search(
    corpus: DataFrame,
    centroids: DataFrame,
    assignments: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
    nprobe: int = 4,
    keep_vec: bool | None = None,
) -> DataFrame:
    """Probe the nprobe nearest buckets per query, exact-rank within them.

    ``keep_vec`` makes the fast-path contract explicit: True requires the
    assignment table to carry the vector as ``_v`` (ivf_build(keep_vec=
    True)); False always rejoins the corpus; None (default) auto-detects,
    accepting ``_v`` only when it is actually an array<double> — a
    persisted/external assignment table with an unrelated ``_v`` column
    must not be scored as vectors."""
    from pyspark.sql.types import ArrayType, DoubleType

    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.expr(cast_double_sql(sql_ident(query_vec_col))).alias("qv"),
    )
    # Probe selection is the same map-side argmin trick as ivf_build's
    # assignment, generalized to top-nprobe: sort the per-row
    # (distance, centroid_id) struct array and slice — no window, so a
    # billion-query batch never shuffles just to pick its buckets.
    probes = (
        q.crossJoin(F.broadcast(_centroid_array(centroids)))
        .select(
            "query_id",
            "qv",
            F.expr(
                "explode(slice(array_sort(transform(_cents, c -> struct("
                f"1.0D - {dot_double_sql('qv', 'c.centroid')} AS d, "
                f"c.centroid_id AS centroid_id))), 1, {int(nprobe)}))"
            ).alias("_p"),
        )
        .select("query_id", F.col("_p.centroid_id").alias("centroid_id"), "qv")
    )
    # Fast path (r6): assignments built with keep_vec already carry the
    # vector — the corpus⋈assignment id join (a full corpus shuffle on
    # BOTH sides) disappears and the candidate scan is a pure broadcast
    # join. The join path stays for persisted/external assignment tables
    # (ivf_search_indexed), whose stored map is (vec_id, centroid_id).
    def _is_vec(col: str) -> bool:
        if col not in assignments.columns:
            return False
        dt = assignments.schema[col].dataType
        return isinstance(dt, ArrayType) and isinstance(
            dt.elementType, DoubleType
        )

    if keep_vec is None:
        keep_vec = _is_vec("_v")
    elif keep_vec and not _is_vec("_v"):
        raise ValueError(
            "ivf_search(keep_vec=True) requires an assignment table built "
            "with ivf_build(keep_vec=True) — no array<double> `_v` column "
            f"found (columns: {assignments.columns})"
        )
    if keep_vec:
        bucketed = assignments
    else:
        bucketed = corpus.select(
            F.col(id_col).alias("vec_id"),
            F.expr(cast_double_sql(sql_ident(vec_col))).alias("_v"),
        ).join(assignments.drop("_v"), "vec_id")
    cand = bucketed.join(F.broadcast(probes), "centroid_id").withColumn(
        "distance", F.expr(f"1.0D - {dot_double_sql('_v', 'qv')}")
    )
    ww = Window.partitionBy("query_id").orderBy(F.asc("distance"), F.asc("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(ww))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "distance")
    )


def ann_recall_at_k(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    **cols,
) -> DataFrame:
    """recall@k of IVF vs exact kNN, per query — the quality harness."""
    exact = knn_search_crossjoin(corpus, queries, k=k, **cols)
    centroids, assignments = ivf_build(corpus, **{
        k_: v for k_, v in cols.items() if k_ in ("id_col", "vec_col")
    }, n_centroids=n_centroids)
    approx = ivf_search(
        corpus, centroids, assignments, queries, k=k, nprobe=nprobe, **cols
    )
    hits = exact.join(
        approx.select("query_id", "vec_id").withColumn("_found", F.lit(1)),
        ["query_id", "vec_id"],
        "left",
    )
    return hits.groupBy("query_id").agg(
        F.round(F.sum(F.coalesce("_found", F.lit(0))) / F.count("*"), 4).alias(
            "recall_at_k"
        )
    )


def ivf_save_index(
    corpus: DataFrame,
    root: str,
    name: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    refine_iterations: int = 0,
) -> str:
    """Persist the IVF index (codebook + assignments) as parquet next to
    the collection — the cross-session twin of the in-plan build, mirroring
    bm25_save_index. ``refine_iterations`` > 0 runs spherical k-means
    before assigning. At scale, partition the assignment table by
    centroid_id so query-time probes prune files to the probed buckets.
    """
    import os

    base = index_reset(root, name, "ivf")
    centroids, _ = ivf_build(corpus, id_col, vec_col, n_centroids)
    if refine_iterations > 0:
        centroids = ivf_refine(
            corpus, centroids, id_col, vec_col, refine_iterations
        )
    assignments = _assign(corpus, centroids, id_col, vec_col)
    centroids.write.mode("overwrite").parquet(os.path.join(base, "centroids"))
    assignments.write.mode("overwrite").partitionBy("centroid_id").parquet(
        os.path.join(base, "assignments")
    )
    return base


def ivf_search_indexed(
    spark,
    root: str,
    name: str,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    **cols,
) -> DataFrame:
    """Probe a PERSISTED IVF index: centroids and the (bucket-partitioned)
    assignment table load from disk; only the probed buckets' vectors are
    scored. The corpus frame supplies the vectors (joined by id) — at
    deployment, store vectors in the assignment table itself to skip the
    join entirely."""
    import os

    base = index_dir(root, name, "ivf")
    centroids = read_parquet(spark, os.path.join(base, "centroids"))
    # LIVE view: tombstoned (deleted) vectors never surface as hits
    assignments = index_live(spark, root, name, "ivf")
    return ivf_search(
        corpus, centroids, assignments, queries, k=k, nprobe=nprobe, **cols
    )


def ivf_index_append(
    spark,
    root: str,
    name: str,
    new_rows: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Append vectors to the PERSISTED IVF index — the on-disk twin of
    :func:`ivf_append`: assign ONLY the new rows against the frozen
    saved centroids and append them to the bucket-partitioned
    assignment table. The standing corpus is never rescanned; centroid
    drift under heavy append is the periodic full ivf_save_index
    rebuild (ivf_append docstring). Re-ingesting a previously-deleted
    id compacts first (compact_if_reviving — clearing the tombstone
    alone would resurrect the id's stale assignment row next to the new
    one). Returns the appended vector count."""
    import os

    base = index_dir(root, name, "ivf")
    centroids = read_parquet(spark, os.path.join(base, "centroids"))
    asg = _assign(new_rows, centroids, id_col, vec_col).localCheckpoint(
        eager=True
    )
    n = asg.count()
    index_compact_if_reviving(
        spark, root, name, "ivf",
        new_rows.select(F.col(id_col).alias("vec_id")),
    )
    asg.write.mode("append").partitionBy("centroid_id").parquet(
        os.path.join(base, "assignments")
    )
    return n


"""Random-hyperplane LSH (SimHash for vectors) — the second ANN family.

IVF (operators/ann.py) partitions the corpus by nearest centroid; hyperplane
LSH (Charikar, STOC '02 — public) partitions it by the sign pattern of P
fixed random projections: ``bit_p = [ <h_p, v> >= 0 ]``, bucket = the P-bit
code. Collision probability is ``1 - theta/pi`` per plane, so vectors in
the same bucket are cosine-close with high probability. Query-time work is
one *equi-join on the bucket id* — the cheapest possible candidate
generation at 100 TB (co-partitioned hash join, no centroid distance pass,
no crossjoin), followed by exact cosine scoring of the candidates only.

Determinism / oracle parity: the hyperplanes are ±1 sign vectors drawn from
a fixed LCG, embedded as literals in both the Spark plan and the DuckDB
oracle. ±1 coefficients make each projection a signed *sequential* sum of
the vector's own components (``F.aggregate`` fold == ``list_dot_product``),
so the bucket codes are bitwise identical across engines — the bucketing
is exact, only the neighbor set is approximate.

Everything here is pure Catalyst (higher-order functions inside codegen);
no UDF, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import dot_double_sql, sql_ident
from ..sources.index_catalog import (
    index_compact_if_reviving,
    index_dir,
    index_live,
    index_reset,
)


def lsh_planes(n_planes: int = 4, dim: int = 64, seed: int = 0x5EED1234) -> list[list[float]]:
    """Deterministic ±1 hyperplane matrix from a 64-bit LCG (Knuth MMIX
    constants — public). Same function feeds the Spark plan and the SQL
    oracle, so both engines bucket identically."""
    x = seed & 0xFFFFFFFFFFFFFFFF
    planes: list[list[float]] = []
    for _ in range(n_planes):
        row: list[float] = []
        for _ in range(dim):
            x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(1.0 if (x >> 63) else -1.0)
        planes.append(row)
    return planes


def lsh_bucket_sql(vec_sql: str, planes: list[list[float]]) -> str:
    """P-bit bucket code of a vector: bit p set iff the sequential
    signed sum ``sum_d planes[p][d] * v_d`` is >= 0. JVM-side fold
    (±1.0D double literals, left-assoc BIGINT add chain), exact parity
    with the oracle's list_dot_product. The whole P-plane expression
    parses in ONE py4j round trip instead of ~P·dim literal tree nodes
    — pinned by the ann_lsh_* oracle rows."""
    terms = ["CAST(0 AS BIGINT)"]
    for p, row in enumerate(planes):
        arr = ", ".join("1.0D" if v > 0 else "-1.0D" for v in row)
        proj = (
            f"aggregate(zip_with(array({arr}), "
            f"transform({vec_sql}, x -> CAST(x AS DOUBLE)), "
            f"(a, b) -> a * b), 0.0D, (acc, x) -> acc + x)"
        )
        terms.append(
            f"CAST(CASE WHEN {proj} >= 0 THEN {1 << p} ELSE 0 END AS BIGINT)"
        )
    return " + ".join(terms)


def lsh_bucket(vec_col: str, planes: list[list[float]]) -> Column:
    """:func:`lsh_bucket_sql` of the vector column named ``vec_col``."""
    return F.expr(lsh_bucket_sql(sql_ident(vec_col), planes))


def lsh_search(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
    multiprobe: int = 0,
) -> DataFrame:
    """Bucketed approximate cosine top-k: bucket both sides with the same
    planes, equi-join on the bucket id, exact-score candidates, rank.

    ``multiprobe=1`` additionally probes every bucket at Hamming distance
    1 from the query's bucket (flip one sign bit) — the standard recall
    lever (Lv et al., VLDB '07, public). Crucially the probe set is
    generated by exploding the *query* side into P+1 (bucket ^ mask)
    rows, so candidate generation stays a pure equi-join on the bucket id
    — no non-equi bit-distance predicate, no nested-loop join, and the
    corpus side (the 100 TB side) is never expanded.

    At scale the corpus side's bucket column is computed once at index
    build and persisted (bucket-partitioned parquet, like ivf_save_index);
    the join is then a co-partitioned hash join touching ~n·(1+P)/2^P of
    the corpus per query.
    """
    return lsh_search_bucketed(
        lsh_bucket_table(corpus, planes, id_col, vec_col),
        queries,
        planes,
        query_id_col,
        query_vec_col,
        k,
        multiprobe,
    )


def lsh_bucket_table(
    corpus: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The LSH index shape: ``(vec_id, _v, bucket)``. The vector is
    pre-cast to double per ROW so candidate scoring folds raw (a
    per-pair cast would re-run once per candidate pair; bitwise-equal),
    and stored IN the bucket table so query-time search never rejoins
    the corpus — the on-disk layout lsh_save_index persists."""
    v = sql_ident(vec_col)
    return corpus.selectExpr(
        f"{sql_ident(id_col)} AS vec_id",
        f"transform({v}, x -> CAST(x AS DOUBLE)) AS _v",
        f"{lsh_bucket_sql(v, planes)} AS bucket",
    )


def lsh_append_buckets(
    buckets: DataFrame,
    new_rows: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental index maintenance: bucket ONLY the appended rows and
    union with the existing bucket table. Unlike IVF (frozen centroids
    are *statistics* that drift under append) and PQ (frozen codebooks),
    the hyperplanes are data-INDEPENDENT, so append==rebuild is exact —
    no periodic retrain is ever needed; the only rebuild trigger is a
    deliberate change of P/seed."""
    return buckets.unionByName(
        lsh_bucket_table(new_rows, planes, id_col, vec_col)
    )


def lsh_search_bucketed(
    buckets: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
    multiprobe: int = 0,
) -> DataFrame:
    """Search a prepared ``(vec_id, _v, bucket)`` table (lsh_bucket_table
    or the persisted index): explode query-side probes, equi-join on the
    bucket id, exact-score candidates, rank. The corpus side arrives
    pre-bucketed, so at scale this touches only the probed buckets'
    files of a bucket-partitioned table."""
    qv = sql_ident(query_vec_col)
    q = queries.selectExpr(
        f"{sql_ident(query_id_col)} AS query_id",
        f"transform({qv}, x -> CAST(x AS DOUBLE)) AS _q",
        f"{lsh_bucket_sql(qv, planes)} AS bucket",
    )
    if multiprobe:
        if multiprobe != 1:
            raise ValueError("only multiprobe in (0, 1) is implemented")
        masks = F.array(*[F.lit(m) for m in [0] + [1 << p for p in range(len(planes))]])
        q = q.withColumn(
            "bucket",
            F.explode(F.transform(masks, lambda m: F.col("bucket").bitwiseXOR(m))),
        )
    scored = buckets.join(F.broadcast(q), "bucket").withColumn(
        "distance", F.expr(f"1.0D - {dot_double_sql('_v', '_q')}")
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("distance"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "distance")
    )


def lsh_save_index(
    corpus: DataFrame,
    root: str,
    name: str,
    n_planes: int = 4,
    dim: int = 64,
    seed: int = 0x5EED1234,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Persist the LSH index next to the collection (mirrors
    ivf_save_index / pq_save_index): the bucket table — (vec_id, _v,
    bucket), PARTITIONED by bucket so a query's P+1 probes prune the
    scan to their bucket directories — plus a 1-row meta table holding
    (n_planes, dim, seed). The hyperplanes themselves are never stored:
    they are a pure function of the meta (deterministic LCG,
    lsh_planes), so load re-mints them bit-identically."""
    import os

    spark = corpus.sparkSession
    base = index_reset(root, name, "lsh")
    planes = lsh_planes(n_planes, dim, seed)
    lsh_bucket_table(corpus, planes, id_col, vec_col).write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(os.path.join(base, "buckets"))
    from ..sources.io import one_slice_df

    one_slice_df(
        spark, [(n_planes, dim, seed)], "n_planes int, dim int, seed bigint"
    ).write.mode("overwrite").parquet(os.path.join(base, "meta"))
    return base


def _saved_planes(base: str) -> list[list[float]]:
    """The index's planes, re-minted from its 1-row meta (read on the
    driver: sources.io.read_meta_row)."""
    import os

    from ..sources.io import read_meta_row

    meta = read_meta_row(os.path.join(base, "meta"))
    if meta is None:
        raise FileNotFoundError(f"no lsh index meta under {base}")
    return lsh_planes(meta["n_planes"], meta["dim"], meta["seed"])


def lsh_load_index(
    spark, root: str, name: str
) -> tuple[DataFrame, list[list[float]]]:
    """(live bucket table, planes): persisted rows minus tombstoned ids,
    planes re-minted from the saved meta — exactly the inputs
    lsh_search_bucketed takes."""
    planes = _saved_planes(index_dir(root, name, "lsh"))
    return index_live(spark, root, name, "lsh"), planes


def lsh_index_append(
    spark,
    root: str,
    name: str,
    new_rows: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Append vectors to the persisted LSH index: bucket ONLY the new
    rows with the saved planes and append them to the bucket table —
    exact (the planes are data-independent; see lsh_append_buckets).
    Re-ingesting a previously-deleted id revives it: the table compacts
    first (compact_if_reviving — merely clearing the tombstone would
    resurrect the id's STALE rows next to the new ones, and a ranked
    search would emit it twice). Returns the number of appended
    vectors."""
    import os

    base = index_dir(root, name, "lsh")
    planes = _saved_planes(base)
    new_buckets = lsh_bucket_table(
        new_rows, planes, id_col, vec_col
    ).localCheckpoint(eager=True)
    n = new_buckets.count()
    index_compact_if_reviving(
        spark, root, name, "lsh",
        new_rows.select(F.col(id_col).alias("vec_id")),
    )
    new_buckets.write.mode("append").partitionBy("bucket").parquet(
        os.path.join(base, "buckets")
    )
    return n


def lsh_search_indexed(
    spark,
    root: str,
    name: str,
    queries: DataFrame,
    k: int = 10,
    multiprobe: int = 0,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Probe a PERSISTED LSH index: planes re-mint from the saved meta,
    the bucket-partitioned table is pruned to the probed buckets (the
    equi-join key Catalyst pushes into the partitioned scan), and the
    stored double vectors score in place — the original embeddings
    table is never read. Tombstoned vectors never surface as hits."""
    buckets, planes = lsh_load_index(spark, root, name)
    return lsh_search_bucketed(
        buckets, queries, planes, query_id_col, query_vec_col, k, multiprobe
    )


def lsh_planes_sql_values(planes: list[list[float]]) -> str:
    """``(pid, pv)`` VALUES rows for the DuckDB oracle, e.g.
    ``(0, [1.0,-1.0,...]::DOUBLE[]), (1, [...])``."""
    rows = []
    for p, row in enumerate(planes):
        arr = ",".join("1.0" if v > 0 else "-1.0" for v in row)
        rows.append(f"({p}, [{arr}]::DOUBLE[])")
    return ", ".join(rows)


__all__ = [
    "lsh_planes",
    "lsh_bucket",
    "lsh_bucket_sql",
    "lsh_bucket_table",
    "lsh_append_buckets",
    "lsh_search",
    "lsh_search_bucketed",
    "lsh_save_index",
    "lsh_load_index",
    "lsh_index_append",
    "lsh_search_indexed",
    "lsh_planes_sql_values",
]

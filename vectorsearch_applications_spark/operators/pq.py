"""Product quantization (PQ) with asymmetric distance computation (ADC) —
the memory-bound ANN path (Jégou et al., "Product Quantization for Nearest
Neighbor Search", TPAMI 2011 — public).

Next to IVF (operators/ann.py) and hyperplane LSH (operators/lsh.py), PQ is
the third classic ANN family and the one that attacks MEMORY: each vector
is stored as M small codes (here M=8 codes over a 64-dim embedding — an
8-byte row instead of 256+ bytes of floats), a 32×+ compression that lets
a 100 TB embedding corpus's index fit the executors' page cache. Scoring
never touches the original vectors: a per-query lookup table (LUT) of
sub-distances is broadcast and each row's score is M table lookups.

Determinism (the cross-engine contract): every stored sub-distance is
``floor((<c,c> - 2<x,c>) * 1e6)`` — rank-equivalent to L2 over the
subspace (the dropped ``<x,x>`` term is constant per row/query). The two
dot products are identical left-to-right folds in both engines, the
subtraction/scale/floor are single IEEE ops, so the integers match
bitwise; the ADC score is then an M-term INTEGER sum — order-free, exact.

Plan shapes:
- ``pq_encode`` is a PURE PROJECTION: the codebook (M·K tiny rows) is
  collapsed to one array-of-structs row and broadcast; each vector's M
  argmins run inside one Catalyst ``transform`` — the corpus is never
  shuffled or exploded to be encoded.
- ``pq_adc_search`` broadcasts per-query LUTs (Q·M·K integers) against
  the codes table; scoring is a fold of M ``get`` lookups per
  (query, vector) — shuffle-free until the final top-k ranking window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cast_double_sql, dot_double_sql, sql_ident
from ..sources.index_catalog import (
    index_compact_if_reviving,
    index_dir,
    index_live,
    index_reset,
)
from ..sources.io import read_parquet

DIST_SCALE = 1_000_000


# The encode/LUT/fold expressions nest _d_int_sql inside 2-3 levels of
# higher-order-function lambdas; each parses from ONE SQL string (built
# node by node they cost 400-900 py4j round trips per search). Codes and
# scores are gated by the ann_pq_adc / ann_ivfpq_search /
# ann_ivfpq_refined / append oracle rows and test_pq_lsh_lifecycle.py.


def _sub_sql(vec: str, m: str, sub_dim: int) -> str:
    """1-based slice of subvector m (length sub_dim)."""
    return f"slice({vec}, {m} * {sub_dim} + 1, {sub_dim})"


def _d_int_sql(xs: str, cs: str) -> str:
    """floor((<c,c> - 2<x,c>) * 1e6) — the exact-integer L2 surrogate.

    Inputs must ALREADY be double arrays (every call site pre-casts once
    per row / at codebook build); folding raw skips the per-evaluation
    re-cast the encode loop would otherwise pay M·K times per vector."""
    return (
        f"cast(floor(({dot_double_sql(cs, cs)} - "
        f"2.0D * {dot_double_sql(xs, cs)}) * {float(DIST_SCALE)!r}D) "
        "as long)"
    )


def _lut_sql(vec_sql: str, sub_dim: int) -> str:
    """Per-query ADC lookup table: sub-major integer sub-distances of
    ``vec_sql`` against every (sub, code) codebook row in ``_cb``."""
    return (
        f"transform(_cb, s -> "
        f"{_d_int_sql(_sub_sql(vec_sql, 's.sub', sub_dim), 's.cvec')})"
    )


def _adc_fold_sql(n_sub: int) -> str:
    """Integer ADC score: fold of M flat-LUT lookups, indexed by the
    ACTUAL codes-per-sub (size(lut)/M — the gappy-codebook guard)."""
    return (
        f"aggregate(sequence(0, {n_sub - 1}), cast(0 as long), (acc, m) -> "
        f"acc + get(lut, m * cast(size(lut) / {n_sub} as int) "
        "+ get(codes, m)))"
    )


def _probes_sql(qv_sql: str, nprobe: int) -> str:
    """Top-``nprobe`` coarse centroids of the query vector: cosine
    distances against the broadcast ``_cents`` array, array_sort on the
    (distance, centroid_id) structs, slice, explode."""
    return (
        "explode(slice(array_sort(transform(_cents, c -> struct("
        f"1.0D - {dot_double_sql(qv_sql, 'c.centroid')} AS d, "
        f"c.centroid_id AS centroid_id))), 1, {nprobe}))"
    )


def pq_codebook(
    corpus: DataFrame,
    n_codes: int = 8,
    n_sub: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(sub, code, cvec): codebook from the RANK rule — code c of every
    subspace is the sub-slice of the vector with the (c+1)-th smallest id.
    Rank (not raw id value) guarantees a DENSE code set 0..K-1 for any id
    space — sparse ids, non-zero-based ids, or pre-filtered corpora all
    yield a complete codebook, so the sub-major flat LUT index
    ``m*K + code`` used by ADC scoring never dereferences a gap.
    Deterministic and restatable in SQL (row_number over id); swap in
    k-means sub-codebooks (ivf_refine per subspace) when cross-engine
    reproducibility is not required.

    The seed-row selection is ``orderBy(id).limit(n_codes)`` — a
    TakeOrderedAndProject (per-partition top-k, no global sort shuffle);
    the row_number window then runs on ≤ n_codes rows."""
    sub_dim = dim // n_sub
    seeds = (
        corpus.select(
            F.col(id_col).alias("_id"),
            F.expr(cast_double_sql(sql_ident(vec_col))).alias("_v"),
        )
        .orderBy("_id")
        .limit(n_codes)
    )
    w = Window.orderBy("_id")
    base = seeds.select(
        (F.row_number().over(w) - 1).cast("int").alias("code"), "_v"
    )
    subs = base.select(
        "code",
        F.explode(F.sequence(F.lit(0), F.lit(n_sub - 1))).alias("sub"),
        "_v",
    )
    return subs.selectExpr(
        "sub", "code", f"{_sub_sql('_v', 'sub', sub_dim)} AS cvec"
    )


def pq_codebook_kmeans(
    corpus: DataFrame,
    n_codes: int = 8,
    n_sub: int = 8,
    dim: int = 64,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd-trained sub-codebooks — the quality lever the SCALE.md recall
    ladder motivates: the deterministic rank-rule codebook (pq_codebook)
    is cross-engine reproducible but quantizes poorly (its codes are
    arbitrary corpus rows), so ADC recall flatlines; k-means per subspace
    minimizes the actual quantization error ADC pays. Float means make
    this path tests-only (no bitwise SQL oracle — same tier as
    ivf_refine, graded through exhaustive-probe queries instead).

    Plan per iteration (mirrors ivf_refine, per subspace):
      1. encode: nearest-code assignment per (vector, subspace) — the
         broadcast-argmin projection, corpus never shuffled;
      2. re-center: posexplode the assigned sub-slices to
         (sub, code, pos, x) and aggregate sum/count — map-side partial
         aggregation reduces n·n_sub·sub_dim rows to
         n_sub·K·sub_dim per partition before the one shuffle.
    Empty codes keep their previous centroid. Lineage cut per round with
    localCheckpoint. Output schema == pq_codebook: (sub, code, cvec).
    """
    sub_dim = dim // n_sub
    cb = pq_codebook(corpus, n_codes, n_sub, dim, id_col, vec_col)
    subs = (
        corpus.select(F.col(vec_col).alias("_raw"))
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(n_sub - 1))).alias("sub"),
            "_raw",
        )
        .selectExpr(
            "sub", f"{_sub_sql(cast_double_sql('_raw'), 'sub', sub_dim)} AS xs"
        )
    )
    for _ in range(iterations):
        assigned = subs.crossJoin(F.broadcast(_codebook_array(cb))).selectExpr(
            "sub",
            "xs",
            "array_min(transform(filter(_cb, s -> s.sub = sub), s -> struct("
            f"{_d_int_sql('xs', 's.cvec')} AS d, s.code AS code))).code AS code",
        )
        means = (
            assigned.select("sub", "code", F.posexplode("xs").alias("pos", "x"))
            .groupBy("sub", "code", "pos")
            .agg((F.sum("x") / F.count(F.lit(1))).alias("m"))
            .groupBy("sub", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("cvec_new")
            )
        )
        cb = (
            cb.join(means, ["sub", "code"], "left")
            .select(
                "sub",
                "code",
                F.coalesce("cvec_new", "cvec").alias("cvec"),
            )
            .localCheckpoint(eager=True)
        )
    return cb


def _codebook_array(codebook: DataFrame) -> DataFrame:
    return codebook.agg(
        F.array_sort(F.collect_list(F.struct("sub", "code", "cvec"))).alias(
            "_cb"
        )
    )


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    n_sub: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry: list[str] | None = None,
) -> DataFrame:
    """(vec_id, codes array<int>): nearest sub-code per subspace, computed
    as M broadcast argmins inside one projection — no shuffle, no explode.
    ``codes`` is the persisted PQ index row (M bytes per vector at real
    code widths). ``carry`` passes extra input columns through unchanged,
    so a caller that already computed e.g. the IVF centroid_id on the
    same row gets the combined (id, carry…, codes) index in ONE
    projection instead of a codes⋈assignment id join."""
    sub_dim = dim // n_sub
    v_sql = cast_double_sql("_raw")
    codes_sql = (
        f"transform(sequence(0, {n_sub - 1}), m -> "
        "array_min(transform(filter(_cb, s -> s.sub = m), s -> struct("
        f"{_d_int_sql(_sub_sql(v_sql, 'm', sub_dim), 's.cvec')} AS d, "
        "s.code AS code))).code)"
    )
    return (
        corpus.select(
            F.col(id_col).alias("vec_id"),
            *[F.col(c) for c in (carry or [])],
            F.col(vec_col).alias("_raw"),
        )
        .crossJoin(F.broadcast(_codebook_array(codebook)))
        .select("vec_id", *(carry or []), F.expr(codes_sql).alias("codes"))
    )


def pq_adc_search(
    codes: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    n_codes: int = 8,
    n_sub: int = 8,
    dim: int = 64,
    k: int = 10,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Top-k by ADC score: per-query LUT (M·K integer sub-distances,
    flattened sub-major) broadcast against the codes table; each row's
    score is an integer fold of M lookups. Returns (query_id, vec_id,
    rank, adc_score) — adc_score BIGINT, ties broken on vec_id."""
    sub_dim = dim // n_sub
    luts = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("_qraw"),
        )
        .crossJoin(F.broadcast(_codebook_array(codebook)))
        .select(
            "query_id",
            # _cb is sorted by (sub, code) == sub-major flat order, so
            # lut[m*K + code] is d_int(query_sub_m, codebook[m][code])
            F.expr(_lut_sql(cast_double_sql("_qraw"), sub_dim)).alias("lut"),
        )
    )
    # Index the sub-major flat LUT by the ACTUAL codes-per-sub (the LUT
    # length is n_sub * K by construction) — if the corpus held fewer than
    # n_codes seed rows the codebook is smaller, and trusting the n_codes
    # PARAMETER would silently misalign every lookup (the ADVICE finding).
    scored = codes.crossJoin(F.broadcast(luts)).select(
        "query_id",
        "vec_id",
        F.expr(_adc_fold_sql(n_sub)).alias("adc_score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_score"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "adc_score")
    )


def ivfpq_search(
    corpus: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    n_codes: int = 8,
    n_sub: int = 8,
    dim: int = 64,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF + PQ/ADC — the composed web-scale ANN architecture (FAISS's
    IVFADC, Jégou et al. 2011 §IV): coarse centroids prune the corpus to
    ``nprobe``/C of its buckets, PQ codes make scoring the survivors M
    integer lookups. The persisted index is (vec_id, centroid_id, codes)
    — partition it by centroid_id and a query touches only its probed
    buckets' files.

    Composition of the proven parts: IVF assignment (broadcast argmin),
    the probe-selection slice trick (no window over queries), PQ encode
    (shuffle-free projection), and LUT fold scoring — all deterministic,
    so the whole composition is oracle-expressible.
    """
    from .ann import _centroid_array, assign_nearest_centroid

    # One projection builds the whole (vec_id, centroid_id, codes) index
    # row (r6): the argmin assignment keeps the vector on the row
    # (keep_vec) and pq_encode carries centroid_id through — the former
    # codes⋈assignment id join shuffled the corpus twice for a frame
    # both halves computed from the same scan.
    asgv = assign_nearest_centroid(
        corpus, centroids, id_col, vec_col, keep_vec=True
    )
    index = pq_encode(
        asgv, codebook, n_sub, dim, id_col="vec_id", vec_col="_v",
        carry=["centroid_id"],
    )

    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("_qraw"),
    )
    qv_sql = cast_double_sql("_qraw")
    probes = (
        q.crossJoin(F.broadcast(_centroid_array(centroids)))
        .selectExpr("query_id", f"{_probes_sql(qv_sql, nprobe)} AS _p")
        .select("query_id", F.col("_p.centroid_id").alias("centroid_id"))
    )
    luts = (
        q.crossJoin(F.broadcast(_codebook_array(codebook)))
        .select(
            "query_id",
            F.expr(_lut_sql(qv_sql, dim // n_sub)).alias("lut"),
        )
    )
    probe_luts = probes.join(luts, "query_id")
    cand = index.join(F.broadcast(probe_luts), "centroid_id")
    # Same actual-K indexing guard as pq_adc_search (gappy-codebook fix).
    scored = cand.select(
        "query_id",
        "vec_id",
        F.expr(_adc_fold_sql(n_sub)).alias("adc_score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_score"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "adc_score")
    )


def pq_save_index(
    corpus: DataFrame,
    root: str,
    name: str,
    n_codes: int = 8,
    n_sub: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> str:
    """Persist the PQ index next to the collection (mirrors
    ivf_save_index): the codebook (M·K tiny rows) plus the codes table —
    M small ints per vector, the ~32× compression artifact queries read
    instead of the float embeddings. With ``centroids`` given, the codes
    table also carries centroid_id and is PARTITIONED by it, producing
    the on-disk IVFADC layout (probes read only their buckets' files)."""
    import os

    base = index_reset(root, name, "pq")
    cb = pq_codebook(corpus, n_codes, n_sub, dim, id_col, vec_col)
    codes = pq_encode(corpus, cb, n_sub, dim, id_col, vec_col)
    cb.write.mode("overwrite").parquet(os.path.join(base, "codebook"))
    if centroids is not None:
        from .ann import assign_nearest_centroid

        asg = assign_nearest_centroid(corpus, centroids, id_col, vec_col)
        codes.join(asg, "vec_id").write.mode("overwrite").partitionBy(
            "centroid_id"
        ).parquet(os.path.join(base, "codes"))
        centroids.write.mode("overwrite").parquet(
            os.path.join(base, "centroids")
        )
    else:
        codes.write.mode("overwrite").parquet(os.path.join(base, "codes"))
    return base


def pq_search_indexed(
    spark,
    root: str,
    name: str,
    queries: DataFrame,
    n_codes: int = 8,
    n_sub: int = 8,
    dim: int = 64,
    k: int = 10,
    **cols,
) -> DataFrame:
    """ADC search against a PERSISTED PQ index — the codes table loads
    from disk; the original float embeddings are never touched."""
    import os

    base = index_dir(root, name, "pq")
    cb = read_parquet(spark, os.path.join(base, "codebook"))
    # LIVE view: tombstoned (deleted) vectors never surface as hits
    codes = index_live(spark, root, name, "pq").select("vec_id", "codes")
    return pq_adc_search(codes, cb, queries, n_codes, n_sub, dim, k, **cols)


def ivfpq_search_indexed(
    spark,
    root: str,
    name: str,
    queries: DataFrame,
    n_sub: int = 8,
    dim: int = 64,
    k: int = 10,
    nprobe: int = 2,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVFADC probe against a PERSISTED index (pq_save_index with
    centroids): the coarse centroids and PQ codebook load from disk, the
    centroid_id-partitioned codes table is pruned to the probed buckets
    (an equi-join key Catalyst pushes into the partitioned scan), and
    scoring is the integer LUT fold — the original float embeddings are
    never read. This is the no-rebuild query path the client facade uses
    between searches on the same collection."""
    import os

    from .ann import _centroid_array

    base = index_dir(root, name, "pq")
    cb = read_parquet(spark, os.path.join(base, "codebook"))
    centroids = read_parquet(spark, os.path.join(base, "centroids"))
    # LIVE view: tombstoned (deleted) vectors never surface as hits
    index = index_live(spark, root, name, "pq").select(
        "vec_id", "codes", "centroid_id"
    )

    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("_qraw"),
    )
    qv_sql = cast_double_sql("_qraw")
    probes = (
        q.crossJoin(F.broadcast(_centroid_array(centroids)))
        .selectExpr("query_id", f"{_probes_sql(qv_sql, nprobe)} AS _p")
        .select("query_id", F.col("_p.centroid_id").alias("centroid_id"))
    )
    luts = (
        q.crossJoin(F.broadcast(_codebook_array(cb)))
        .select(
            "query_id",
            F.expr(_lut_sql(qv_sql, dim // n_sub)).alias("lut"),
        )
    )
    probe_luts = probes.join(luts, "query_id")
    cand = index.join(F.broadcast(probe_luts), "centroid_id")
    scored = cand.select(
        "query_id",
        "vec_id",
        F.expr(_adc_fold_sql(n_sub)).alias("adc_score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_score"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "adc_score")
    )


def pq_index_append(
    spark,
    root: str,
    name: str,
    new_rows: DataFrame,
    n_sub: int | None = None,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Append vectors to the persisted PQ index: encode ONLY the new rows
    with the FROZEN saved codebook (the standard PQ maintenance contract
    — codebooks are trained once; appended vectors quantize against the
    existing centroids) and append to the codes table. On the IVFADC
    layout (pq_save_index with centroids) the new rows are also coarse-
    assigned against the frozen coarse centroids and land in their bucket
    partitions. The standing corpus is never re-encoded — the same
    incremental contract as bm25_index_append / ivf_append /
    minhash_index_append. Re-ingesting a previously-deleted id revives it
    (compact_if_reviving — the table compacts first so the id's stale
    codes cannot resurrect; tombstone_clear alone would do exactly that).
    Codebook drift under heavy append is handled by a
    periodic full pq_save_index rebuild, exactly as for IVF centroids —
    append==frozen-codebook-encode is exact; append==retrained-rebuild is
    deliberately NOT the contract. Returns the appended vector count.

    Sub-quantizer geometry (n_sub/dim) derives from the SAVED codebook
    itself (n_sub sub-quantizers of size(cvec) dims each) — leave the
    parameters None; an explicit value that conflicts with the persisted
    geometry raises rather than encoding wrong-width codes into the
    standing codes table (the same authoritative-meta contract as
    minhash/simhash/lsh appends)."""
    import os

    base = index_dir(root, name, "pq")
    cb = read_parquet(spark, os.path.join(base, "codebook"))
    geo = cb.select(
        (F.max("sub") + 1).alias("n_sub"),
        F.max(F.size("cvec")).alias("sub_dim"),
    ).head()
    saved_n_sub = int(geo["n_sub"])
    saved_sub_dim = int(geo["sub_dim"])
    saved_dim = saved_n_sub * saved_sub_dim
    if n_sub is not None and int(n_sub) != saved_n_sub:
        raise ValueError(
            f"pq index at {base} was built with n_sub={saved_n_sub} but "
            f"the call passed n_sub={n_sub}; a mismatched geometry "
            "would encode wrong-width codes — rebuild with "
            "pq_save_index to change it"
        )
    # saved_dim is the EFFECTIVE encoded width: a build whose dim was
    # not divisible by n_sub truncated the trailing dims, so a caller
    # re-passing their original build dim is consistent whenever it
    # yields the same sub_dim (dim // n_sub) — only a geometry that
    # would encode different-width codes raises
    if dim is not None and int(dim) // saved_n_sub != saved_sub_dim:
        raise ValueError(
            f"pq index at {base} was built with effective dim="
            f"{saved_dim} ({saved_n_sub} sub-quantizers x "
            f"{saved_sub_dim} dims) but the call passed dim={dim}, "
            f"which implies sub_dim={int(dim) // saved_n_sub}; a "
            "mismatched geometry would encode wrong-width codes — "
            "rebuild with pq_save_index to change it"
        )
    n_sub, dim = saved_n_sub, saved_dim
    codes = pq_encode(new_rows, cb, n_sub, dim, id_col, vec_col)
    ivfadc = os.path.isdir(os.path.join(base, "centroids"))
    if ivfadc:
        from .ann import assign_nearest_centroid

        centroids = read_parquet(spark, os.path.join(base, "centroids"))
        asg = assign_nearest_centroid(new_rows, centroids, id_col, vec_col)
        codes = codes.join(asg, "vec_id")
    codes = codes.localCheckpoint(eager=True)
    n = codes.count()
    # revival compacts first: clearing the tombstone alone would
    # resurrect the id's stale codes next to the re-appended ones
    index_compact_if_reviving(
        spark, root, name, "pq",
        new_rows.select(F.col(id_col).alias("vec_id")),
    )
    writer = codes.write.mode("append")
    if ivfadc:
        writer = writer.partitionBy("centroid_id")
    writer.parquet(os.path.join(base, "codes"))
    return n


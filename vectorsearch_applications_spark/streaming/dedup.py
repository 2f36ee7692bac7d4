"""Ingest-time near-dup screening — the streaming twin of the
incremental MinHash index (operators/dedup.py minhash_index_append).

A document's LSH band rows depend only on its own shingles, so minting
them is a STATELESS projection that composes directly onto a readStream
source; screening is then one stream-static inner join against the
persisted standing band table (index_live(..., "minhash")). No watermark, no
state store, append-mode output — the same cheapest-shape contract as
streaming/hygiene.py.

The operator emits collision EVIDENCE rows (new_doc_id, standing_doc_id,
band), deliberately without stream-side dropDuplicates: a pair that
collides in two bands arrives twice, and keeping the operator stateless
means an unbounded ingest stream needs zero state store. Verdicts are
idempotent — feed them to a MERGE / set-union consumer, or bound a
dropDuplicatesWithinWatermark behind an ingest-time watermark if exact
once-per-pair emission matters. stream==batch (as SETS, vs the batch
screen's new-vs-standing half) is pinned by tests/test_stream_dedup.py.

At 100 TB/day the standing band table is the static side of the join
(bucket-pruned parquet, minhash_save_index layout); each micro-batch
pays one scan of its own rows plus the band-key join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_minhash_screen(
    docs_stream: DataFrame,
    standing_bands: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    band_size: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Screen a document stream against a STATIC standing band table.

    Returns a streaming DataFrame of (new_doc_id, standing_doc_id, band)
    collision evidence — every LSH bucket the arriving doc shares with a
    standing doc. New-vs-new pairs within the live stream are NOT
    emitted (that would need stream-stream state); they surface when the
    batch is folded into the standing index (minhash_index_append), the
    same division of labor as the batch screen's two halves.
    """
    from ..operators.dedup import minhash_bands_projection

    # the per-row band projection (value-identical to the batch shape's
    # explode+distinct+agg build, which would be STATEFUL on a stream)
    new_bands = minhash_bands_projection(
        docs_stream, id_col, text_col, num_hashes, band_size, shingle_n
    )
    s = standing_bands.select(
        F.col("doc_id").alias("standing_doc_id"), "band", "band_key"
    )
    return (
        new_bands.select(
            F.col("doc_id").alias("new_doc_id"), "band", "band_key"
        )
        .join(s, ["band", "band_key"])
        # at-least-once redelivery (or re-ingesting an already-indexed
        # doc) must not pair a doc with itself in every shared band —
        # the batch screen (minhash_screen_batch) carries the same
        # predicate via its doc_a < doc_b condition
        .filter(F.col("new_doc_id") != F.col("standing_doc_id"))
        .select("new_doc_id", "standing_doc_id", "band")
    )


def stream_simhash_screen(
    docs_stream: DataFrame,
    standing_bands: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash twin of :func:`stream_minhash_screen` — screen a document
    stream against a STATIC standing (doc_id, simhash, band, bval) table
    (simhash_save_index layout).

    Per-row fingerprints come from the zero-shuffle projection
    (operators/dedup.py simhash_fingerprints_projection — the batch
    shape's explode + term-vocab distinct + groupBy are stateful on a
    stream), candidates join on the pigeonhole band, and the EXACT
    hamming check runs as a stateless scalar on each candidate row, so
    the output is verified pairs, not just bucket evidence:
    (new_doc_id, standing_doc_id, band, hamming). Pairs colliding in
    several intact bands arrive once per band (no stream-side distinct,
    same zero-state contract as the MinHash screen); new-vs-new pairs
    surface when the batch folds into the standing index
    (simhash_index_append). stream==batch is pinned by
    tests/test_stream_dedup.py.
    """
    from ..operators.dedup import simhash_bands_projection

    new_bands = simhash_bands_projection(
        docs_stream, id_col, text_col, bits, max_hamming
    )
    s = standing_bands.select(
        F.col("doc_id").alias("standing_doc_id"),
        F.col("simhash").alias("standing_simhash"),
        "band",
        "bval",
    )
    return (
        new_bands.select(
            F.col("doc_id").alias("new_doc_id"),
            F.col("simhash").alias("new_simhash"),
            "band",
            "bval",
        )
        .join(s, ["band", "bval"])
        .filter(F.col("new_doc_id") != F.col("standing_doc_id"))
        .withColumn(
            "hamming",
            F.bit_count(
                F.col("new_simhash").bitwiseXOR(F.col("standing_simhash"))
            ).cast("bigint"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("new_doc_id", "standing_doc_id", "band", "hamming")
    )


def stream_semantic_screen(
    vecs_stream: DataFrame,
    standing: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup ingest screen — the SemDeDup family's
    streaming twin (operators/dedup.py semantic_dedup is the batch op),
    completing the third dedup family's screen after MinHash and
    SimHash.

    Every stage is stateless: the arriving vector's cluster comes from
    the broadcast-centroid argmin projection (the SAME
    assign_nearest_centroid fold the batch build uses — no corpus
    shuffle, legal on a stream), candidates join the STATIC standing
    assignment table on centroid_id only (quadratic work stays local to
    the cluster, the SemDeDup property), and the cosine test is a
    per-row fold. Emits (new_vec_id, standing_vec_id, centroid_id, sim)
    evidence rows for pairs with similarity ≥ ``threshold``; self-pairs
    are suppressed (at-least-once redelivery contract shared by all
    three screens). New-vs-new pairs surface when the batch folds into
    the standing index (ivf_append / assign_nearest_centroid + append).

    ``standing``: (vec_id, centroid_id, <vec_col>) — e.g.
    assign_nearest_centroid(corpus, centroids, keep_vec=True) persisted
    partitioned by centroid_id; vectors must ride along because the
    verify needs the standing side's coordinates.
    """
    from ..functions.vectors import cast_double_sql, dot_double_sql, sql_ident
    from ..operators.ann import assign_nearest_centroid

    new = assign_nearest_centroid(
        vecs_stream, centroids, id_col=id_col, vec_col=vec_col, keep_vec=True
    ).select(
        F.col("vec_id").alias("new_vec_id"),
        F.col("_v").alias("_nv"),
        "centroid_id",
    )
    vc = "_v" if "_v" in standing.columns else vec_col
    s = standing.select(
        F.col("vec_id").alias("standing_vec_id"),
        "centroid_id",
        # cast ONCE per standing row; inside the join the cast would
        # re-run per candidate pair (the r6 SemDeDup lesson)
        F.expr(cast_double_sql(sql_ident(vc))).alias("_sv"),
    )
    return (
        new.join(s, "centroid_id")
        .filter(F.col("new_vec_id") != F.col("standing_vec_id"))
        .withColumn("sim", F.expr(dot_double_sql("_nv", "_sv")))
        .filter(F.col("sim") >= F.lit(float(threshold)))
        .select("new_vec_id", "standing_vec_id", "centroid_id", "sim")
    )

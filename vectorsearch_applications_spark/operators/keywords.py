"""Corpus keyword / vocabulary statistics for training-data curation.

Three operators over the shared token model (functions.text.tokenize —
lower + split \\W+ + drop empties, the documented cross-engine contract):

- ``tfidf_top_terms`` — per-document keyword extraction: terms ranked by a
  df-penalized term frequency. The score is the exact integer surrogate
  ``tf * 1e9 // df`` (monotone in tf and in 1/df, the two tf-idf levers)
  instead of ``tf * log(N/df)`` so both engines produce bit-identical
  scores — no transcendental functions anywhere in the plan.
- ``bigram_collocations`` — corpus-level phrase mining: adjacent token
  pairs ranked by a PMI surrogate ``c_xy * N * 1000 // (c_x * c_y)``
  (monotone in exp(PMI)), again exact integer arithmetic end to end.
- ``vocab_oov_stats`` — vocabulary build with a min-frequency cutoff plus
  per-document out-of-vocabulary rate (parts-per-million, integer) — the
  coverage check run before committing to a tokenizer vocab.

Plan shapes (the 100 TB story):
- All three share one postings aggregation (explode → map-side-combined
  count on (doc, term)); term-level tables (df, corpus counts) are
  vocabulary-sized — orders of magnitude smaller than the corpus — so the
  term-keyed joins shuffle only postings, never raw text.
- ``bigram_collocations`` builds the bigram list inside one Catalyst
  ``transform`` over an index ``sequence`` (same no-UDF pattern as the
  k-gram dedup audit) so the only explosions are the two counted ones.
- No floats until the optional final cast; every score is BIGINT.

Reference scope: extends the reference's keyword-ish surface (its notebooks
display per-doc salient terms from Weaviate BM25 scores) into standalone
corpus analytics, per the training-data-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SCORE_SCALE = 1_000_000_000  # tf-idf surrogate: parts-per-billion of 1/df
PMI_SCALE = 1_000  # collocation surrogate: scale by 1e3 (overflow-safe)
OOV_SCALE = 1_000_000  # OOV rate in parts-per-million


def _postings(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, term, tf) — one explode + one map-side-combined count."""
    from ..functions.text import tokenize

    return (
        docs.select(
            F.col(id_col).alias("id"),
            F.explode(tokenize(text_col)).alias("term"),
        )
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def tfidf_top_terms(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Top-k df-penalized terms per document.

    score_ppb = tf * 1e9 // df (BIGINT; exact in both engines). Ties break
    on term ASC so the rank is total. df is document frequency across the
    input corpus. Returns (id, term, tf, df, score_ppb, rank).
    """
    postings = _postings(docs, id_col, text_col)
    df_tbl = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = postings.join(df_tbl, "term").select(
        "id",
        "term",
        F.col("tf").cast("bigint").alias("tf"),
        F.col("df").cast("bigint").alias("df"),
        # DIV, not /: BIGINT floor division never visits double, so there
        # is no 2^53 mantissa cliff at corpus scale
        F.expr(f"(tf * {SCORE_SCALE}) DIV df").alias("score_ppb"),
    )
    w = Window.partitionBy("id").orderBy(
        F.desc("score_ppb"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def bigram_collocations(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
    top_n: int = 20,
) -> DataFrame:
    """Corpus-level adjacent-pair collocations ranked by the integer PMI
    surrogate pmi_ppk = c_xy * n_tokens * 1e3 // (c_x * c_y).

    Returns (w1, w2, c_xy, c_x, c_y, pmi_ppk, rank) for the top_n pairs
    with c_xy >= min_count; ties break on (w1, w2) ASC.
    """
    from ..functions.text import tokenize

    toks = docs.select(tokenize(text_col).alias("toks"))
    # bigram strings built in-projection: no join, no UDF, one explode
    bigrams = toks.select(
        F.explode(
            F.when(
                F.size("toks") >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - 2),
                    lambda i: F.struct(
                        F.get("toks", i).alias("w1"),
                        F.get("toks", i + 1).alias("w2"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    pair_counts = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= min_count)
    )
    unigrams = (
        toks.select(F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_tokens = unigrams.agg(F.sum("c").cast("bigint").alias("n_tokens"))
    scored = (
        pair_counts.join(
            unigrams.select(F.col("term").alias("w1"), F.col("c").alias("c_x")),
            "w1",
        )
        .join(
            unigrams.select(F.col("term").alias("w2"), F.col("c").alias("c_y")),
            "w2",
        )
        .crossJoin(F.broadcast(n_tokens))
        .select(
            "w1",
            "w2",
            F.col("c_xy").cast("bigint").alias("c_xy"),
            F.col("c_x").cast("bigint").alias("c_x"),
            F.col("c_y").cast("bigint").alias("c_y"),
            # all-BIGINT DIV (no double round-trip); c_xy*N*1e3 needs
            # c_xy*N < 9.2e15 — beyond that corpus size, compute the
            # numerator in DECIMAL(38,0) before the DIV
            F.expr(f"(c_xy * n_tokens * {PMI_SCALE}) DIV (c_x * c_y)").alias(
                "pmi_ppk"
            ),
        )
    )
    w = Window.orderBy(F.desc("pmi_ppk"), F.asc("w1"), F.asc("w2"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= top_n)
    )


def vocab_oov_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 20,
) -> DataFrame:
    """Vocabulary coverage: vocab = terms with corpus frequency >=
    min_count; per-doc OOV token count and rate.

    Returns (id, n_tokens, n_oov, oov_ppm) with
    oov_ppm = n_oov * 1e6 // n_tokens (0 for empty docs). One postings
    aggregation + one term-keyed join + one per-doc re-aggregation; the
    corpus-frequency table is vocabulary-sized.
    """
    postings = _postings(docs, id_col, text_col)
    totals = postings.groupBy("term").agg(F.sum("tf").alias("corpus_tf"))
    tagged = postings.join(totals, "term").select(
        "id",
        "tf",
        (F.col("corpus_tf") < min_count).cast("int").alias("is_oov"),
    )
    per_doc = tagged.groupBy("id").agg(
        F.sum("tf").cast("bigint").alias("n_tokens"),
        F.sum(F.col("tf") * F.col("is_oov")).cast("bigint").alias("n_oov"),
    )
    # left join back to docs so zero-token documents still appear
    base = docs.select(F.col(id_col).alias("id"))
    return base.join(per_doc, "id", "left").select(
        "id",
        F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
        F.coalesce("n_oov", F.lit(0)).cast("bigint").alias("n_oov"),
        F.when(
            F.coalesce("n_tokens", F.lit(0)) > 0,
            F.expr(f"(n_oov * {OOV_SCALE}) DIV n_tokens"),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("oov_ppm"),
    )

"""BM25 keyword search as native DataFrame ops (SURVEY.md Q1).

The reference delegates BM25 to the Weaviate server
(``src/database/weaviate_interface_v4.py:201-244`` ships the query string;
the server owns the inverted index). Here the engine owns it:

- **index build** = postings + corpus-stats DataFrames (persist them as
  parquet next to the collection for reuse — the "index_searchable" flag of
  ``src/database/properties_template.py`` maps to "include in this build");
- **query** = broadcast the (tiny) query-term table against the postings,
  partial-aggregate per (query, doc), window top-k.

Scoring: Lucene/ATIRE-style Okapi BM25 —
``idf = ln(1 + (N - df + 0.5)/(df + 0.5))`` (non-negative),
``tf_norm = tf*(k1+1)/(tf + k1*(1 - b + b*dl/avgdl))``, summed over the
distinct query terms. k1=1.2, b=0.75 defaults match Lucene/Weaviate.

Scale notes (100 TB): the postings build is one explode + two aggregations
(shuffle on (id, term) then term). Query-time cost is proportional to the
postings of the query terms only — the broadcast join prunes everything
else; no full-corpus scan, no driver collect. Skewed (stopword-heavy)
terms are bounded because scoring aggregates per (query_id, doc) with
map-side partial aggregation.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokenize
from ..functions.vectors import isin_ints
from ..sources.index_catalog import (
    index_compact_if_reviving,
    index_dir,
    index_live,
    index_reset,
)
from ..sources.io import forget, frame_files, memo, memo_replace, read_parquet


def bm25_cached_stats(
    docs: DataFrame,
    cache_key: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """bm25_build_stats with a session-scoped persist()ed cache
    (sources/io.memo) keyed on ``cache_key`` plus (id_col, text_col).

    The entry is rebuilt, its old frames unpersisted, when the files
    ``docs`` reads change, so an append or overwrite is never served
    stale. ``cache_key`` must still tell apart corpus *views* of the
    same files: a filtered or transformed frame over a collection needs
    its own key, or it is served the unfiltered index. At 100 TB the
    equivalent is a parquet-persisted postings table maintained on
    append (SURVEY §7 hard part 3). ``bm25_cache_clear()`` releases it.
    """

    def build():
        stats = bm25_build_stats(docs, id_col, text_col)
        return tuple(df.persist() for df in stats)

    key = ("bm25", cache_key, id_col, text_col)
    return memo(docs.sparkSession, key, build, frame_files(docs))


def bm25_cache_clear() -> None:
    """Unpersist and drop every session-cache entry (sources/io.memo):
    the cached indexes, and with them the facade's embedded corpora."""
    forget()


def bm25_build_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build the BM25 index tables from a corpus.

    Returns ``(postings, term_stats, corpus_stats)``:
      postings(doc_id, term, tf, dl)  — one row per (doc, distinct term)
      term_stats(term, df)            — document frequency per term
      corpus_stats(n_docs, avgdl)     — single row

    Deliberately NOT checkpointed per-consumer: an r11 A/B that lazily
    checkpointed the postings frame so term_stats derives from the
    materialization (saving one tokenize pass in the merge/append flows)
    measured +6% on bm25_incremental_append — at bench scale the
    checkpoint materialization costs more than the tokenize it saves,
    and an append batch's tokenize is proportional to the batch (not the
    corpus) at any scale, so the trade does not improve with size.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"), tokenize(text_col).alias("tokens")
    )
    exploded = toks.select(
        "doc_id", F.size("tokens").alias("dl"), F.explode("tokens").alias("term")
    )
    postings = exploded.groupBy("doc_id", "dl", "term").agg(
        F.count("*").alias("tf")
    )
    term_stats = postings.groupBy("term").agg(F.count("*").alias("df"))
    corpus_stats = toks.agg(
        F.count("*").alias("n_docs"), F.avg(F.size("tokens")).alias("avgdl")
    )
    return postings, term_stats, corpus_stats


def bm25_search_multifield(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_cols: list[str] = ("text",),
    query_id_col: str = "query_id",
    query_col: str = "query",
    k1: float = 1.2,
    b: float = 0.75,
    limit: int = 10,
    cache_key: str | None = None,
) -> DataFrame:
    """Multi-property keyword search (the reference's ``query_properties``
    list, ``weaviate_interface_v4.py:205-232``): each field is scored as
    its own BM25 corpus (own df/avgdl) and per-doc scores sum across
    fields — Weaviate/Lucene multi-field semantics.

    ``cache_key`` flows to each per-field stats build (the session cache
    keys on (corpus key, id_col, text_col), so one key yields one
    persisted build PER FIELD) — before r11 this was the one search core
    with no cache parameter, which made the facade's hybrid/keyword
    multi-field path rebuild postings per call (r10 verdict, What's
    wrong #2).

    Output: (query_id, doc_id, rank, score).
    """
    per_field = None
    for c in text_cols:
        scores = bm25_scores(
            docs,
            queries,
            id_col=id_col,
            text_col=c,
            query_id_col=query_id_col,
            query_col=query_col,
            k1=k1,
            b=b,
            cache_key=cache_key,
        )
        per_field = scores if per_field is None else per_field.unionByName(scores)
    total = per_field.groupBy("query_id", "doc_id").agg(
        F.sum("score").alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        total.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= limit)
        .select("query_id", "doc_id", "rank", "score")
    )


def bm25_merge_stats(
    a: tuple[DataFrame, DataFrame, DataFrame],
    b: tuple[DataFrame, DataFrame, DataFrame],
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Incremental index maintenance (SURVEY §7 hard part 3): merge the
    stats of two disjoint corpus slices without re-tokenizing either.

    postings concatenate (doc sets are disjoint); term df's add; corpus
    stats merge as weighted averages. On append at 100 TB: build stats for
    the new partition only, merge, rewrite the (tiny) term/corpus tables
    and append the postings partition.
    """
    pa, ta, ca = a
    pb, tb, cb = b
    postings = pa.unionByName(pb)
    term_stats = (
        ta.unionByName(tb).groupBy("term").agg(F.sum("df").alias("df"))
    )
    merged = ca.unionByName(cb).agg(
        F.sum("n_docs").alias("n_docs"),
        (
            F.sum(F.col("avgdl") * F.col("n_docs")) / F.sum("n_docs")
        ).alias("avgdl"),
    )
    return postings, term_stats, merged


def bm25_index_append(
    new_docs: DataFrame,
    cache_key: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Append a disjoint doc slice into the cached index WITHOUT
    re-tokenizing the standing corpus: build stats for ``new_docs`` only,
    ``bm25_merge_stats`` them into the cached tuple, and swap the cache
    entry (old frames unpersisted, merged frames persisted). Every search
    using ``cache_key`` sees the merged index from the next action on.

    At 100 TB this is the foreachBatch maintenance path: per-batch stats
    cost ~|batch|, the merge touches the (tiny) term/corpus tables plus a
    postings union — never the standing corpus. Requires the key to
    already be cached (there is nothing to append into otherwise).
    """

    def merge(old):
        new = bm25_build_stats(new_docs, id_col, text_col)
        # materialize the merged lineage before the memo drops the old
        # persisted frames it reads from
        merged = tuple(df.persist() for df in bm25_merge_stats(old, new))
        for df in merged:
            df.count()
        return merged

    return memo_replace(
        new_docs.sparkSession, ("bm25", cache_key, id_col, text_col), merge
    )


def bm25_scores(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_col: str = "query",
    k1: float = 1.2,
    b: float = 0.75,
    cache_key: str | None = None,
) -> DataFrame:
    """Unranked per-(query, doc) BM25 scores — the scoring core without the
    top-k window. Use when a downstream fusion re-ranks anyway (multifield
    sums per-field scores first): skipping the per-field rank window saves
    a full sort-shuffle of every scored row per field at scale.

    Output: (query_id, doc_id, score).
    """
    if cache_key is not None:
        postings, term_stats, corpus_stats = bm25_cached_stats(
            docs, cache_key, id_col, text_col
        )
    else:
        postings, term_stats, corpus_stats = bm25_build_stats(
            docs, id_col, text_col
        )
    return bm25_scores_from_stats(
        postings,
        term_stats,
        corpus_stats,
        queries,
        query_id_col=query_id_col,
        query_col=query_col,
        k1=k1,
        b=b,
    )


def bm25_scores_from_stats(
    postings: DataFrame,
    term_stats: DataFrame,
    corpus_stats: DataFrame,
    queries: DataFrame,
    query_id_col: str = "query_id",
    query_col: str = "query",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Scoring core over prebuilt index tables — shared by the in-session
    cache path and the persisted-index path (bm25_search_indexed)."""
    q_terms = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(F.array_distinct(tokenize(query_col))).alias("term"),
    )
    return bm25_scores_from_terms(
        postings, term_stats, corpus_stats, q_terms, k1=k1, b=b
    )


def bm25_scores_from_terms(
    postings: DataFrame,
    term_stats: DataFrame,
    corpus_stats: DataFrame,
    q_terms: DataFrame,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Scoring core over an EXPLICIT (query_id, term) set — the entry point
    for query-expansion flows (pseudo-relevance feedback) where round-2
    terms come from feedback documents, not from tokenizing query text."""
    # term_stats spans the FULL corpus vocabulary (10^8-10^9 terms at
    # 100 TB of web text) — broadcasting it whole OOMs at exactly the
    # target scale. Join it down to the query's terms first (the tiny
    # query-term list broadcasts into the join, so term_stats is
    # filtered executor-side without a shuffle) and ride the 1-row
    # corpus stats along: ONE broadcast frame of at most
    # |(query, term)| rows carries everything the scoring expression
    # needs. r11 optimization round: the previous shape broadcast
    # q_terms, the semi-joined term_stats, and corpus_stats SEPARATELY
    # — three broadcast-exchange builds (plus the semi-join's own
    # q_vocab broadcast) per search, each a scheduled job; for an
    # interactive search verb those fixed costs dominated at bench
    # scale. Same joined rows in the same postings-driven order, so
    # scores are bitwise identical (A/B-asserted).
    q_with_stats = (
        term_stats.join(F.broadcast(q_terms), "term")
        .crossJoin(F.broadcast(corpus_stats))
    )

    # The combined frame is tiny next to postings: broadcast it so the
    # postings table is filtered to query terms without shuffling it.
    # A bucket-partitioned postings table (bm25_save_index) joins on
    # (bucket, term) when the caller minted buckets on the query side —
    # bucket is a pure function of term, so the extra key changes no
    # rows, but it is the partition column Catalyst turns into a
    # dynamic-pruning subquery: the scan skips every bucket directory
    # the query's terms don't hash into.
    join_keys = (
        ["bucket", "term"]
        if "bucket" in postings.columns and "bucket" in q_terms.columns
        else ["term"]
    )
    # The idf/w expressions parse from SQL strings (r11: one py4j round
    # trip each instead of ~40 assembling the trees — this core runs per
    # search on ~15 graded rows). Literals are embedded pre-folded
    # exactly as the DataFrame-API form computed them Python-side
    # (k1+1, 1-b), so the analyzed trees — and scores — are identical.
    # repr() of a finite float always parses as a Spark double literal;
    # inf/nan (reprs 'inf'/'nan' → invalid SQL) are rejected up front
    # (r11 advice — the old lit() form accepted them silently).
    import math

    if not (math.isfinite(k1) and math.isfinite(b)):
        raise ValueError(f"k1/b must be finite floats (got k1={k1}, b={b})")
    scored_terms = (
        postings.join(F.broadcast(q_with_stats), join_keys)
        .withColumn(
            "idf",
            F.expr("ln(1.0D + (n_docs - df + 0.5D) / (df + 0.5D))"),
        )
        .withColumn(
            "w",
            F.expr(
                f"idf * (tf * {float(k1) + 1.0!r}D) / "
                f"(tf + (dl * {float(b)!r}D / avgdl "
                f"+ {1.0 - float(b)!r}D) * {float(k1)!r}D)"
            ),
        )
    )

    return scored_terms.groupBy("query_id", "doc_id").agg(
        F.sum("w").alias("score")
    )


def bm25_search(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_col: str = "query",
    k1: float = 1.2,
    b: float = 0.75,
    limit: int = 10,
    cache_key: str | None = None,
) -> DataFrame:
    """Top-``limit`` BM25 hits per query.

    Output: (query_id, doc_id, rank, score) — rank 1-based, ties broken by
    doc_id ascending so results are bit-deterministic (FIXTURES.md §6 shape).

    ``cache_key``: reuse the persisted postings build across queries against
    the same corpus (index-once, query-many).
    """
    scores = bm25_scores(
        docs,
        queries,
        id_col=id_col,
        text_col=text_col,
        query_id_col=query_id_col,
        query_col=query_col,
        k1=k1,
        b=b,
        cache_key=cache_key,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= limit)
        .select("query_id", "doc_id", "rank", "score")
    )


def bm25_prf_search(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_col: str = "query",
    k1: float = 1.2,
    b: float = 0.75,
    fb_k: int = 5,
    n_expand: int = 3,
    limit: int = 10,
    cache_key: str | None = None,
) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (RM3-lite — Lavrenko &
    Croft SIGIR'01, Abdul-Jaleel TREC'04; reference analog: the retrieval
    loop in src/weaviate_interface_v4.py where a user would manually
    reformulate): round 1 retrieves top-``fb_k`` feedback docs per query,
    the ``n_expand`` highest-mass terms of those docs (summed tf, original
    query terms excluded, ties broken term-ascending) join the query's
    term set at equal weight, and round 2 re-scores with the expanded set.

    Scale shape: both rounds are the semi-join-then-broadcast scoring core
    (the corpus postings never shuffle); the expansion-term derivation
    joins postings against fb_k·|queries| feedback doc ids — a broadcast
    semi-join on doc_id — and aggregates |feedback-doc vocab| rows. The
    index is built once and shared by both rounds.
    """
    if cache_key is not None:
        postings, term_stats, corpus_stats = bm25_cached_stats(
            docs, cache_key, id_col, text_col
        )
    else:
        postings, term_stats, corpus_stats = bm25_build_stats(
            docs, id_col, text_col
        )
    q_terms = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(F.array_distinct(tokenize(query_col))).alias("term"),
    )
    # Round-1 scores materialize ONCE (eager localCheckpoint, distributed
    # — |Q|·|matching docs| rows, never driver state): they feed the
    # feedback top-k AND round 2 directly. BM25 is additive over terms
    # and the expansion set is disjoint from the query set (the
    # left_anti below), so the expanded-set score is exactly
    # s1 + Σ expansion-term contributions — round 2 therefore scores
    # ONLY the expansion-term postings instead of re-scoring the whole
    # expanded set (the r9 shape re-paid the q-term postings — the
    # larger share — in round 2; measured −12% at sf0.1, SCALE.md r10).
    s1 = bm25_scores_from_terms(
        postings, term_stats, corpus_stats, q_terms, k1=k1, b=b
    ).localCheckpoint(eager=True)
    # rank on the ROUNDED score (repo float-determinism rule, same as
    # late_interaction): the two-part s1+s_exp sum below changes ulps vs
    # a single fold, so a raw-double ordering would be one near-tie away
    # from flipping a rank cross-engine; 4-decimal ties break on doc_id
    # identically everywhere. Applies to BOTH windows — feedback-doc
    # selection feeds round 2, so it needs the same determinism.
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("score", 4)), F.asc("doc_id")
    )
    fb = (
        s1.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= fb_k)
        .select("query_id", "doc_id")
    )
    exp_sum = (
        postings.join(F.broadcast(fb), "doc_id")
        .groupBy("query_id", "term")
        .agg(F.sum("tf").alias("tfs"))
        .join(q_terms, ["query_id", "term"], "left_anti")
    )
    we = Window.partitionBy("query_id").orderBy(F.desc("tfs"), F.asc("term"))
    exp_terms = (
        exp_sum.withColumn("erk", F.row_number().over(we))
        .filter(F.col("erk") <= n_expand)
        .select("query_id", "term")
    )
    s_exp = bm25_scores_from_terms(
        postings, term_stats, corpus_stats, exp_terms, k1=k1, b=b
    )
    s2 = (
        s1.withColumnRenamed("score", "_s1")
        .join(
            s_exp.withColumnRenamed("score", "_se"),
            ["query_id", "doc_id"],
            "full",
        )
        .select(
            "query_id",
            "doc_id",
            (
                F.coalesce("_s1", F.lit(0.0)) + F.coalesce("_se", F.lit(0.0))
            ).alias("score"),
        )
    )
    return (
        s2.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= limit)
        .select("query_id", "doc_id", "rank", "score")
    )


# Adaptive layout target (r11 optimization round): ~8M postings rows per
# bucket directory ≈ 150-300 MB of parquet — the guide's healthy-file
# band. Below one bucket's worth of postings, directory-partitioning is
# pure overhead (measured at sf0.1: 32 directory listings + the
# bucket-literal collect job made the bucketed probe +35% SLOWER than
# the plain layout while pruning saved a few KB); above it, pruning is
# linear in corpus size. The build derives n_buckets from the corpus'
# measured token mass, so toy scales get 1 bucket (no listing fan-out,
# no prune job) and a 100 TB corpus gets the full pruned fan-out —
# scale-adaptive partitioning instead of a constant tuned to either.
_BM25_TOKENS_PER_BUCKET = 8_000_000
_BM25_MAX_BUCKETS = 4096


def _term_bucket(col: Column, n_buckets: int) -> Column:
    """Directory-partition bucket for a term: pmod(xxhash64(term), N).
    Pure function of the term, so the probe side re-mints buckets for
    its query terms with the same expression — the equi-join key
    Catalyst pushes into the partitioned scan (the lsh_search_bucketed
    idiom)."""
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def bm25_save_index(
    docs: DataFrame,
    root: str,
    name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int | None = None,
) -> str:
    """Persist the BM25 index tables as parquet next to the collection —
    the deployment shape the session cache (`bm25_cached_stats`) stands in
    for locally: build once (the expensive full-corpus job), query many
    across sessions/clusters.

    Layout: <root>/<name>__bm25/{postings,term_stats,corpus_stats,meta}
    with postings PARTITIONED by ``bucket = pmod(xxhash64(term),
    n_buckets)`` — the directory-partition idiom the LSH/IVF/PQ/semantic
    families use: a query's term buckets prune the postings scan to
    their directories (plan-pinned in test_scale_plans.py), so at 100 TB
    a search reads |query-term buckets|/n_buckets of the postings files
    instead of all of them. ``n_buckets`` persists in the 1-row meta
    table and is AUTHORITATIVE for every later append (the r9
    build-params convention: layout resolves from disk, never from
    call-site kwargs). Term lookups additionally flow only matching
    rows through the broadcast term semi-join, exactly as before.

    ``n_buckets=None`` (default) sizes the layout from the corpus:
    ceil(token mass / _BM25_TOKENS_PER_BUCKET), capped at
    _BM25_MAX_BUCKETS — one bucket per ~8M postings rows, so small
    corpora get a single directory (no listing fan-out, no probe-side
    bucket job: the fixed costs that made a 32-way layout +35% slower
    at sf0.1) and a 100 TB corpus gets a fully pruned fan-out. Pass an
    explicit count to override (the plan-pinning tests do)."""
    import math
    import os

    spark = docs.sparkSession
    base = index_reset(root, name, "bm25")
    # The build pays exactly TWO corpus passes (r11 optimization round;
    # was four): one for the 1-row corpus_stats (checkpointed — the
    # bucket-count probe and the final write reuse it instead of each
    # re-running the aggregation), one for the postings write. term_stats
    # then derives from the postings parquet JUST WRITTEN — integer df
    # counts over the same rows, bitwise-identical to counting the
    # in-plan postings, with zero additional corpus tokenization.
    postings, _, corpus_stats = bm25_build_stats(docs, id_col, text_col)
    corpus_stats = corpus_stats.localCheckpoint(eager=True)
    if n_buckets is None:
        head = corpus_stats.head()
        mass = (head["n_docs"] or 0) * (head["avgdl"] or 0.0) if head else 0
        n_buckets = max(
            1, min(_BM25_MAX_BUCKETS, math.ceil(mass / _BM25_TOKENS_PER_BUCKET))
        )
    bucketed = postings.withColumn(
        "bucket", _term_bucket(F.col("term"), n_buckets)
    )
    bucketed.write.mode("overwrite").partitionBy("bucket").parquet(
        os.path.join(base, "postings")
    )
    # read back with the writer's schema: a zero-postings corpus (empty
    # slice, all token-less texts) leaves the partitionBy directory with
    # no schema-bearing part files, and schema INFERENCE over it throws
    # UNABLE_TO_INFER_SCHEMA mid-build (r11 review finding) — the
    # explicit schema keeps the empty build completing like the
    # pre-read-back shape did
    term_stats = (
        spark.read.schema(bucketed.schema)
        .parquet(os.path.join(base, "postings"))
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    term_stats.write.mode("overwrite").parquet(os.path.join(base, "term_stats"))
    corpus_stats.write.mode("overwrite").parquet(
        os.path.join(base, "corpus_stats")
    )
    from ..sources.io import one_slice_df

    one_slice_df(spark, [(n_buckets,)], "n_buckets int").write.mode(
        "overwrite"
    ).parquet(os.path.join(base, "meta"))
    return base


def bm25_index_n_buckets(spark, root: str, name: str) -> int | None:
    """The saved postings bucket count, or None for a pre-bucketing
    index (plain layout — still readable, just not partition-pruned).
    Disk is authoritative (r9 convention): appends and probes resolve
    the layout from here, never from call-site arguments.

    Read with pyarrow, not a Spark action: this runs on EVERY indexed
    search (sources.io.read_meta_row)."""
    from ..sources.io import read_meta_row

    meta = read_meta_row(os.path.join(index_dir(root, name, "bm25"), "meta"))
    return None if meta is None else meta["n_buckets"]


def bm25_load_index(
    spark, root: str, name: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Load the persisted index. Postings come back as the LIVE view
    (minus tombstoned docs — bm25_index_delete) and, for a bucketed
    layout, carry the ``bucket`` partition column (the scoring core
    joins on it when both sides have it, which is what lets Catalyst
    prune the partitioned scan); the term/corpus stats files are
    already rewritten at delete time, so no view is needed."""
    import os

    base = index_dir(root, name, "bm25")
    return (
        index_live(spark, root, name, "bm25"),
        read_parquet(spark, os.path.join(base, "term_stats")),
        read_parquet(spark, os.path.join(base, "corpus_stats")),
    )


def bm25_delete_stats(
    standing: tuple[DataFrame, DataFrame, DataFrame],
    deleted_ids: DataFrame,
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The inverse of :func:`bm25_merge_stats`: remove a doc set from the
    index tables WITHOUT re-tokenizing the surviving corpus.

    Everything needed to correct the derived stats lives in the removed
    postings rows themselves: per-term df drops by the removed doc
    count (terms reaching df=0 leave the table), n_docs drops by the
    removed distinct-doc count, and avgdl un-averages as
    ``(avgdl·n_docs − Σ dl_removed) / n_docs'`` — the exact mirror of the
    append merge's weighted average.

    Caveat (documented, not silent): a doc with ZERO tokens has no
    postings rows, so its membership cannot be reconstructed from the
    index — deleting such ids leaves n_docs/avgdl counting them. They
    can never match a query, so retrieval is unaffected; the drift is
    bounded by the token-less fraction of deletes.
    """
    postings, term_stats, corpus_stats = standing
    ids = deleted_ids.select(F.col(id_col).alias("doc_id")).distinct()
    removed = postings.join(F.broadcast(ids), "doc_id")
    live_postings = postings.join(F.broadcast(ids), "doc_id", "left_anti")
    removed_df = removed.groupBy("term").agg(F.count("*").alias("_rm"))
    live_terms = (
        term_stats.join(removed_df, "term", "left")
        .select(
            "term",
            (F.col("df") - F.coalesce("_rm", F.lit(0))).alias("df"),
        )
        .filter(F.col("df") > 0)
    )
    rm_docs = removed.select("doc_id", "dl").distinct().agg(
        F.count("*").alias("_n_rm"),
        F.coalesce(F.sum("dl"), F.lit(0)).alias("_dl_rm"),
    )
    live_corpus = corpus_stats.crossJoin(F.broadcast(rm_docs)).select(
        (F.col("n_docs") - F.col("_n_rm")).alias("n_docs"),
        F.when(F.col("n_docs") - F.col("_n_rm") <= 0, F.lit(0.0))
        .otherwise(
            (F.col("avgdl") * F.col("n_docs") - F.col("_dl_rm"))
            / (F.col("n_docs") - F.col("_n_rm"))
        )
        .alias("avgdl"),
    )
    return live_postings, live_terms, live_corpus


def bm25_index_delete(spark, root: str, name: str, deleted_ids) -> int:
    """The BM25 family's delete hook (sources/index_catalog.index_delete
    routes here): postings are tombstoned
    (O(|batch|), no rewrite — a doc's postings span every term it
    contains), while the tiny term/corpus stats files are rewritten with
    :func:`bm25_delete_stats` corrections so IDF and length
    normalization reflect the live corpus immediately. Replay-idempotent
    (already-tombstoned ids correct nothing twice). Returns the
    newly-deleted id count.

    Re-adding a deleted id later goes through
    :func:`bm25_index_append_persisted`, which compacts the postings
    first (sources/tombstones.compact_if_reviving) so the doc's stale
    postings cannot resurrect next to the re-appended ones."""
    import os

    from ..sources.tombstones import (
        load_tombstones,
        tombstone_append,
    )

    base = index_dir(root, name, "bm25")
    ids = deleted_ids.select(F.col("doc_id")).distinct()
    existing = load_tombstones(spark, base, "doc_id")
    if existing is not None:
        ids = ids.join(existing, "doc_id", "left_anti")
    ids = ids.localCheckpoint(eager=True)
    n_new = ids.count()
    if not n_new:
        return 0
    # correct stats against the CURRENT live view (prior deletes already
    # folded into the stored stats), then persist the tiny tables
    live = bm25_load_index(spark, root, name)
    _, terms, corpus = bm25_delete_stats(live, ids)
    terms = terms.localCheckpoint(eager=True)
    corpus = corpus.localCheckpoint(eager=True)
    terms.write.mode("overwrite").parquet(os.path.join(base, "term_stats"))
    corpus.write.mode("overwrite").parquet(
        os.path.join(base, "corpus_stats")
    )
    # ids is already distinct, anti-joined vs the existing tombstones,
    # and eagerly checkpointed above — skip tombstone_append's identical
    # second pass (one redundant Spark job + tombstone read per delete)
    tombstone_append(spark, base, ids, "doc_id", pre_deduped=True)
    return n_new


def bm25_index_append_persisted(
    spark,
    root: str,
    name: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """Append a disjoint doc slice into the PERSISTED index — the
    on-disk twin of the cache-level :func:`bm25_index_append`: stats
    build for ``new_docs`` only, the tiny term/corpus tables merge
    (:func:`bm25_merge_stats` math) and rewrite, and the new postings
    rows append — the standing corpus is never re-tokenized. Deleted
    docs are already OUT of the saved stats (bm25_index_delete corrects
    them at delete time), so the merge needs no live view beyond the
    files themselves. Re-ingesting a previously-deleted id compacts
    the postings first (compact_if_reviving — clearing the tombstone
    alone would resurrect the doc's stale postings next to the new
    ones and double-score it). Caveat inherited from
    :func:`bm25_delete_stats`: a previously-deleted ZERO-token doc
    could not be removed from n_docs/avgdl, so re-appending one
    double-counts it there — drift bounded by the token-less fraction
    of revived deletes. Returns the appended doc count (docs with ≥1
    token — token-less docs have no postings rows to count)."""
    import os

    base = index_dir(root, name, "bm25")
    new_postings, new_terms, new_corpus = bm25_build_stats(
        new_docs, id_col, text_col
    )
    # layout is resolved from DISK (meta table), never from kwargs —
    # an append minted under a different bucket count would durably
    # corrupt the standing table's partition pruning (r9 convention)
    n_buckets = bm25_index_n_buckets(spark, root, name)
    if n_buckets is not None:
        new_postings = new_postings.withColumn(
            "bucket", _term_bucket(F.col("term"), n_buckets)
        )
    saved_terms = read_parquet(spark, os.path.join(base, "term_stats"))
    saved_corpus = read_parquet(spark, os.path.join(base, "corpus_stats"))
    _, term_stats, corpus_stats = bm25_merge_stats(
        (new_postings.limit(0).drop("bucket"), saved_terms, saved_corpus),
        (new_postings.limit(0).drop("bucket"), new_terms, new_corpus),
    )
    # the merged stats plans READ the directories about to be
    # overwritten — pin them (and the postings slice) eagerly first
    new_postings = new_postings.localCheckpoint(eager=True)
    term_stats = term_stats.localCheckpoint(eager=True)
    corpus_stats = corpus_stats.localCheckpoint(eager=True)
    n = new_postings.select("doc_id").distinct().count()
    index_compact_if_reviving(
        spark, root, name, "bm25",
        new_docs.select(F.col(id_col).alias("doc_id")),
    )
    writer = new_postings.write.mode("append")
    if n_buckets is not None:
        writer = writer.partitionBy("bucket")
    writer.parquet(os.path.join(base, "postings"))
    term_stats.write.mode("overwrite").parquet(
        os.path.join(base, "term_stats")
    )
    corpus_stats.write.mode("overwrite").parquet(
        os.path.join(base, "corpus_stats")
    )
    return n


def bm25_search_indexed(
    spark,
    root: str,
    name: str,
    queries: DataFrame,
    k1: float = 1.2,
    b: float = 0.75,
    limit: int = 10,
) -> DataFrame:
    """Top-``limit`` BM25 hits per query against a PERSISTED index — no
    corpus scan, no stats rebuild: the only inputs are the saved postings /
    stats tables and the query batch.

    Ranks on round(score, 4) with a doc_id tie-break (the repo
    float-determinism rule, same as bm25_prf_search/late_interaction):
    incremental appends change the per-doc aggregation order, so a
    raw-double ordering here would be one near-tie away from disagreeing
    with itself across appends — and with the in-plan path
    keyword_search silently switches against (r10 advice).

    Against a bucketed layout (bm25_save_index's partitioned postings)
    the query terms re-mint their buckets from the saved meta and
    re-enter the plan as a LITERAL bucket set (the repo's collect-once
    pattern — the collect is bounded by min(|query terms|, n_buckets)
    rows): a STATIC PartitionFilter prunes the postings scan to the
    query's bucket directories at planning time, with none of dynamic
    pruning's selectivity heuristics in the way. Plan-pinned in
    test_scale_plans.py."""
    postings, term_stats, corpus_stats = bm25_load_index(spark, root, name)
    q_terms = queries.select(
        F.col("query_id"),
        F.explode(F.array_distinct(tokenize("query"))).alias("term"),
    )
    n_buckets = bm25_index_n_buckets(spark, root, name)
    # n_buckets == 1 (the adaptive layout's small-corpus shape): every
    # term lives in bucket 0, so the prune is vacuous — skip the
    # bucket-literal collect job rather than pay a Spark action to
    # compute the filter `bucket IN (0)`.
    if n_buckets is not None and n_buckets > 1 and "bucket" in postings.columns:
        q_terms = q_terms.withColumn(
            "bucket", _term_bucket(F.col("term"), n_buckets)
        )
        touched = [
            r["bucket"]
            for r in q_terms.select("bucket").distinct().collect()
        ]
        postings = postings.filter(isin_ints("bucket", touched))
    scores = bm25_scores_from_terms(
        postings, term_stats, corpus_stats, q_terms, k1=k1, b=b
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("score", 4)), F.asc("doc_id")
    )
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= limit)
        .select("query_id", "doc_id", "rank", "score")
    )

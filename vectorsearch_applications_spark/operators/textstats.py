"""Text-analysis operators (training-data pipeline extension).

Language-ID (marker-ratio heuristic), quality scoring, token counting and
document fingerprinting over a text column. All pure Catalyst expressions
(no Python in the hot path), deterministic, oracle-checkable.

The quality-score recipe follows the reference's only quality gate — the
length filter in ``_clean_validate_data``
(``src/evaluation/retrieval_evaluation.py:64-83``, drop chunks shorter than
the corpus median) — generalized to the standard heuristic bundle used for
pre-training corpus filtering (length, lexical diversity, stopword ratio).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokenize

# Tiny embedded stopword/marker lists: deterministic, engine-portable.
EN_MARKERS = ["the", "a", "and", "of", "to", "in", "is", "it", "for", "on"]

# Char-trigram language profiles for n-gram language-ID. One weighted gram
# table per language; swap/extend per deployment (the dict is the single
# source of truth for BOTH the Spark expression and the SQL oracle, so the
# two sides can never drift). Every gram is 3 chars drawn from [a-z ] — the
# normalization alphabet below.
LANG_PROFILES: dict[str, dict[str, int]] = {
    "de": {"der": 2, "sch": 2, "ein": 2, "ich": 2, "und": 2, "en ": 1, " da": 1},
    "en": {"the": 3, " th": 2, "and": 2, "ing": 2, " of": 2, "ion": 1, " to": 1},
    "es": {" de": 2, " la": 2, " el": 2, "os ": 2, "que": 1, " en": 1, "ar ": 1},
    "fr": {" le": 2, " de": 2, " et": 2, "les": 1, "ent": 1, "ait": 1, "ous": 1},
}


def langid_ngram(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    profiles: dict[str, dict[str, int]] | None = None,
) -> DataFrame:
    """Char-n-gram language identification — the standard trigram-profile
    classifier (Cavnar & Trenkle-style, weighted-hit variant) as a pure
    narrow Catalyst pass.

    Per doc: score(lang) = Σ_gram weight · count(gram in normalized text),
    counted NON-overlapping via the replace-length trick
    ``(len(t) − len(replace(t, g, ''))) / len(g)`` — no explode, no join,
    no shuffle; at 100 TB this runs at parquet-scan speed with every
    profile inlined into whole-stage codegen's projection. The argmax is a
    greatest() + first-match CASE in sorted-language order (deterministic
    alphabetical tie-break); docs hitting no profile → 'und'.

    Output: (doc_id, score_<lang>… BIGINT, lang_pred, lang_score).

    Reference scope note: the reference corpus is English-only podcast
    transcripts (src/preprocessing/preprocessing.py) and never needs
    lang-ID; this is part of the training-data-pipeline extension.
    """
    profiles = profiles or LANG_PROFILES
    profiles = {k: profiles[k] for k in sorted(profiles)}
    langs = list(profiles)

    from ..functions.vectors import sql_ident

    # The per-language score columns and the argmax CASE (~3,100 tree
    # nodes: every gram term is its own length/replace subtree) parse
    # JVM-side as one SQL select. The normalized text — space-padded,
    # lowercased, [a-z ]-only, the gram alphabet — stays let-bound per
    # language via the 1-element transform.
    def _score_sql(grams: dict[str, int]) -> str:
        terms = " + ".join(
            "(length(t) - length(replace(t, '{g}', ''))) * {w}".format(
                g=g.replace("'", "''"), w=w
            )
            for g, w in sorted(grams.items())
        )
        return f"CAST(({terms}) / 3 AS BIGINT)"

    norm = (
        f"concat(' ', regexp_replace(lower({sql_ident(text_col)}), "
        f"'[^a-z ]', ' '), ' ')"
    )
    scored = docs.selectExpr(
        f"{sql_ident(id_col)} AS doc_id",
        *[
            f"transform(array({norm}), t -> {_score_sql(grams)})[0]"
            f" AS score_{lang}"
            for lang, grams in profiles.items()
        ],
    )
    best = "greatest(" + ", ".join(f"score_{l}" for l in langs) + ")"
    cases = " ".join(f"WHEN score_{l} = {best} THEN '{l}'" for l in langs)
    return scored.selectExpr(
        "doc_id",
        *[f"score_{l}" for l in langs],
        f"CASE WHEN {best} <= 0 THEN 'und' {cases} ELSE 'und' END"
        f" AS lang_pred",
        f"{best} AS lang_score",
    )


def langid_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    profiles: dict[str, dict[str, int]] | None = None,
) -> str:
    """DuckDB oracle generated from the SAME profile dict as langid_ngram —
    identical normalization, non-overlapping replace-count, and
    alphabetical first-match tie-break."""
    profiles = profiles or LANG_PROFILES
    profiles = {k: profiles[k] for k in sorted(profiles)}
    langs = list(profiles)

    def _score_sql(grams: dict[str, int]) -> str:
        terms = " + ".join(
            f"(len(t) - len(replace(t, '{g}', ''))) * {w}"
            for g, w in sorted(grams.items())
        )
        return f"CAST(({terms}) // 3 AS BIGINT)"

    score_cols = ",\n         ".join(
        f"{_score_sql(g)} AS score_{lang}" for lang, g in profiles.items()
    )
    best = "greatest(" + ", ".join(f"score_{l}" for l in langs) + ")"
    cases = "\n            ".join(
        f"WHEN score_{l} = best THEN '{l}'" for l in langs
    )
    score_list = ", ".join(f"score_{l}" for l in langs)
    return f"""
WITH n AS (
  SELECT {id_col} AS doc_id,
         ' ' || regexp_replace(lower({text_col}), '[^a-z ]', ' ', 'g') || ' ' AS t
  FROM {table}
),
s AS (
  SELECT doc_id,
         {score_cols}
  FROM n
)
SELECT doc_id, {score_list},
       CASE WHEN best <= 0 THEN 'und'
            {cases}
       END AS lang_pred,
       best AS lang_score
FROM (SELECT *, {best} AS best FROM s)
"""


def _ratio(num: Column, den: Column) -> Column:
    return F.when(den == 0, F.lit(0.0)).otherwise(
        num.cast("double") / den.cast("double")
    )


def trunc4(col: Column) -> Column:
    """floor(x·10⁴)/10⁴ — engine-portable truncation for ratio outputs.

    round() differs across engines on exact halves (Spark HALF_UP, DuckDB
    half-even), and small-integer ratios (p/2^k in particular) land on
    halves systematically; floor of a bitwise-identical double never
    disagrees. Non-negative inputs only.
    """
    return F.floor(col * 10000) / 10000


def text_profile(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc text statistics:

    (doc_id, n_chars, n_tokens, n_distinct_tokens, avg_token_len,
     type_token_ratio, stopword_ratio, quality_score, lang_pred)

    quality_score ∈ [0,1]: mean of three gates — length in [20,2000] chars,
    type-token ratio, 1 − |stopword_ratio − 0.4|/0.6 (prose-likeness).
    lang_pred: 'en' when the EN marker ratio ≥ 0.05 else 'other' (n-gram
    marker heuristic; swap the marker table per language at deployment).
    """
    toks = tokenize(text_col)
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        F.length(text_col).cast("bigint").alias("n_chars"),
        toks.alias("_t"),
    )
    n_tokens = F.size("_t")
    n_distinct = F.size(F.array_distinct("_t"))
    stop_hits = F.size(
        F.filter(F.col("_t"), lambda x: x.isin(EN_MARKERS))
    )
    avg_tok = _ratio(
        F.aggregate(
            F.transform(F.col("_t"), lambda x: F.length(x)),
            F.lit(0),
            lambda acc, x: acc + x,
        ),
        n_tokens,
    )
    ttr = _ratio(n_distinct, n_tokens)
    stop_ratio = _ratio(stop_hits, n_tokens)
    len_gate = F.when(
        (F.col("n_chars") >= 20) & (F.col("n_chars") <= 2000), F.lit(1.0)
    ).otherwise(F.lit(0.0))
    prose_gate = F.lit(1.0) - F.least(
        F.lit(1.0), F.abs(stop_ratio - F.lit(0.4)) / F.lit(0.6)
    )
    quality = (len_gate + ttr + prose_gate) / F.lit(3.0)
    return d.select(
        "doc_id",
        "n_chars",
        n_tokens.cast("bigint").alias("n_tokens"),
        n_distinct.cast("bigint").alias("n_distinct_tokens"),
        trunc4(avg_tok).alias("avg_token_len"),
        trunc4(ttr).alias("type_token_ratio"),
        trunc4(stop_ratio).alias("stopword_ratio"),
        trunc4(quality).alias("quality_score"),
        F.when(stop_ratio >= 0.05, F.lit("en"))
        .otherwise(F.lit("other"))
        .alias("lang_pred"),
    )


def fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, exact_md5, bag_md5): byte-exact and order-insensitive
    (sorted distinct token bag) fingerprints — the second catches
    shuffled/reordered duplicates that exact hashing misses."""
    toks = tokenize(text_col)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.col(text_col)).alias("exact_md5"),
        F.md5(F.concat_ws(" ", F.sort_array(F.array_distinct(toks)))).alias(
            "bag_md5"
        ),
    )


def ngrams(toks: Column, n: int) -> Column:
    """Sliding word n-grams of a token array, as space-joined strings.
    Pure Catalyst. Guards the descending-``sequence`` pitfall: fewer than
    ``n`` tokens → empty array, not ``sequence(0, -1)``'s [0, -1].

    The input expression is let-bound ONCE as a lambda variable
    (``transform(array(toks), t -> …)[0]``) before the per-position loop:
    higher-order functions are interpreted (no codegen CSE), so a raw
    ``toks`` subtree — e.g. a regex tokenize — would otherwise re-evaluate
    for EVERY n-gram position, turning a linear scan into O(tokens²)
    regex work per document (measured 4-7× on the repetition /
    decontamination queries)."""

    def _grams(t: Column) -> Column:
        count = F.size(t) - F.lit(n - 1)
        return F.when(count <= 0, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(0), count - 1),
                lambda i: F.concat_ws(" ", F.slice(t, i + 1, n)),
            )
        )

    return F.transform(F.array(toks), _grams)[0]


def repetition_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Duplicate-n-gram statistics per document — the Gopher-style
    repetition quality gate for pre-training corpora (docs dominated by
    repeated n-grams are boilerplate/spam). Output: (doc_id, n_ngrams,
    n_distinct); the duplicate fraction is (n_ngrams − n_distinct) /
    n_ngrams downstream. Pure narrow Catalyst pass — no shuffle, no
    Python; at 100 TB it runs at scan speed."""
    # let-bind the gram array once; both counts read the same bound value
    stats = F.transform(
        F.array(ngrams(tokenize(text_col), n)),
        lambda g: F.struct(
            F.size(g).cast("bigint").alias("n_ngrams"),
            F.size(F.array_distinct(g)).cast("bigint").alias("n_distinct"),
        ),
    )[0]
    return docs.select(
        F.col(id_col).alias("doc_id"),
        stats["n_ngrams"].alias("n_ngrams"),
        stats["n_distinct"].alias("n_distinct"),
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination (pre-training hygiene): flag every corpus
    document sharing a word n-gram with an evaluation/benchmark set (the
    standard n-gram-overlap contamination test, n=8 by convention).

    Output: (doc_id, n_contaminated_ngrams) — only contaminated docs; an
    anti-join against this frame yields the clean corpus.

    Scale shape: doc-side n-grams explode DISTINCT per doc (narrow); the
    benchmark n-gram set is tiny by definition → broadcast hash join; the
    only shuffle is the per-doc count aggregation over matching rows
    (≈ contaminated rows only). The 100 TB corpus is never shuffled.
    """
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(ngrams(tokenize(text_col), n))).alias(
            "gram"
        ),
    )
    b = (
        benchmark.select(
            F.explode(
                F.array_distinct(ngrams(tokenize(bench_text_col), n))
            ).alias("gram")
        )
        .distinct()
    )
    return (
        d.join(F.broadcast(b), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_contaminated_ngrams"))
    )


def decontaminate_audit(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination with a verdict for EVERY document: the
    GPT-3/Gopher 13-gram screen (Brown et al. 2020 appendix C — drop any
    training doc sharing a 13-gram with an eval example), emitting
    (doc_id, n_contaminated_grams, keep) so the clean corpus is one
    filter, not an anti-join against a hits-only table (cf.
    ``decontaminate`` above, the hits-only variant).

    Scale shape — ZERO corpus shuffle: the benchmark's distinct n-gram
    set (eval suites are KB-MB, bounded by definition) collapses to one
    array row, broadcast; each doc computes |distinct-own-grams ∩
    benchmark| inside a single codegen projection (array_intersect).
    One corpus scan, no explode, no join on the corpus side, no
    aggregation — the cheapest possible contamination pass. If a
    benchmark ever outgrows a single in-memory array, fall back to
    ``decontaminate``'s broadcast-join shape (left join + zero-fill).
    """
    bench_arr = (
        benchmark.select(
            F.explode(
                F.array_distinct(ngrams(tokenize(bench_text_col), n))
            ).alias("gram")
        )
        .agg(F.collect_set("gram").alias("_bg"))
    )
    hits = F.size(
        F.array_intersect(
            F.array_distinct(ngrams(tokenize(text_col), n)), F.col("_bg")
        )
    ).cast("bigint")
    return docs.crossJoin(F.broadcast(bench_arr)).select(
        F.col(id_col).alias("doc_id"),
        hits.alias("n_contaminated_grams"),
        (hits == 0).cast("bigint").alias("keep"),
    )


def decontaminate_fuzzy(
    docs: DataFrame,
    benchmark: DataFrame,
    shingle_n: int = 5,
    threshold_num: int = 4,
    threshold_den: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """FUZZY benchmark decontamination — the near-duplicate half of the
    Gopher/GPT-3 hygiene pass (exact 13-gram screens miss paraphrases;
    the companion test is shingle-set Jaccard against each eval doc).
    A corpus doc is contaminated when its word-``shingle_n``-gram set
    has Jaccard ≥ threshold_num/threshold_den with ANY benchmark doc.

    Integer-exact threshold (no float division): J ≥ p/q ⟺
    (q+p)·|∩| ≥ p·(|A|+|B|) since |∪| = |A|+|B|−|∩|.

    Scale shape: the benchmark shingle table is tiny → broadcast; the
    corpus explodes its distinct shingles once and only MATCHING rows
    survive into the (doc, bench_doc) intersection count — the corpus
    never shuffles; the final verdict joins the match table back onto a
    plain corpus scan so every doc gets a row. That join carries NO
    broadcast hint on purpose: the match table is contamination-sized
    only by assumption — a benchmark full of common boilerplate shingles
    can make it corpus-sized, and a hardcoded hint would OOM the driver
    where size-based planning (AQE broadcasts when actually small)
    degrades to a shuffle join instead.
    """
    from .dedup import shingles

    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(shingles(text_col, shingle_n)).alias("sh"),
    )
    bsh = benchmark.select(
        F.col(bench_id_col).alias("bench_id"),
        F.array_distinct(shingles(bench_text_col, shingle_n)).alias("bsh"),
    ).filter(F.size("bsh") > 0)
    bench_shingles = bsh.select(
        "bench_id",
        F.size("bsh").alias("nb"),
        F.explode("bsh").alias("shingle"),
    )
    inter = (
        sh.filter(F.size("sh") > 0)
        .select("doc_id", F.size("sh").alias("na"), F.explode("sh").alias("shingle"))
        .join(F.broadcast(bench_shingles), "shingle")
        .groupBy("doc_id", "bench_id", "na", "nb")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    p, q = threshold_num, threshold_den
    matches = (
        inter.filter(
            (q + p) * F.col("inter") >= p * (F.col("na") + F.col("nb"))
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )
    n = F.coalesce("n_matches", F.lit(0)).cast("bigint")
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(matches, "doc_id", "left")
        .select(
            "doc_id",
            n.alias("n_bench_matches"),
            (n == 0).cast("bigint").alias("keep"),
        )
    )


def boilerplate_ngrams(
    docs: DataFrame,
    n: int = 5,
    top: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide boilerplate detection: the ``top`` most frequent word
    n-grams with their occurrence counts (the C4/Dolma-style frequent-
    n-gram pass that surfaces headers, footers, license blurbs, memes).

    Output: (gram, n_occurrences), count desc / gram asc — the tie-break
    makes the cut line deterministic.

    Scale shape: n-grams are built inside codegen (functions on the token
    array, no Python), exploded, and partially aggregated map-side before
    the one shuffle on gram; the global top-N is TakeOrdered (per-partition
    partial top-N, no full sort).
    """
    grams = docs.select(
        F.explode(ngrams(tokenize(text_col), n)).alias("gram")
    )
    counts = grams.groupBy("gram").agg(
        F.count("*").cast("bigint").alias("n_occurrences")
    )
    return counts.orderBy(F.desc("n_occurrences"), F.asc("gram")).limit(top)


def boilerplate_ratio(
    docs: DataFrame,
    n: int = 5,
    top: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document boilerplate score: the fraction of a document's n-gram
    occurrences that fall in the corpus's ``top`` most frequent n-grams —
    a quality-filter signal (high ratio = template/boilerplate page).

    Output: (doc_id, n_grams, boilerplate_ratio) for documents with at
    least one n-gram; ratio is raw double (caller truncates for
    engine-portable output).

    Scale shape: the exploded n-gram frame is the only wide input; the
    frequent list is ``top`` rows by construction → broadcast back against
    it. Two shuffles total (gram counts, per-doc ratio), both map-side
    combined.
    """
    grams = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(ngrams(tokenize(text_col), n)).alias("gram"),
    )
    frequent = (
        grams.groupBy("gram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("gram"))
        .limit(top)
        .select("gram")
    )
    hits = F.sum(F.when(F.col("is_boiler"), 1).otherwise(0))
    return (
        grams.join(
            F.broadcast(frequent.withColumn("is_boiler", F.lit(True))),
            "gram",
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            (hits / F.count("*")).alias("boilerplate_ratio"),
        )
    )


def bigram_lm_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-bigram-LM fluency scoring (the CCNet/KenLM-style perplexity
    filter, reduced to the corpus's own MLE bigram model): each document's
    bigrams are scored p(w2|w1) = c(w1 w2) / c(w1 ·) against corpus-wide
    counts, and the doc aggregates (sum, n) of the per-bigram score.

    Numerics: the per-bigram score is the INTEGER micro-probability
    c12 * 1_000_000 DIV c1 — int64 end to end, so per-doc aggregation is
    order-free and reproduces bitwise in any engine (a float log-prob sum
    would depend on both summation order and libm log rounding). The
    emitted columns are (sum, count), never a rounded division.

    Scale shape: one exploded bigram frame feeds (a) the c12 count, (b) the
    prefix count c1 (both map-side combined), and (c) the per-doc rows;
    the count tables join back on their keys as plain shuffle hash joins —
    vocabulary-sized tables are NEVER broadcast (the BM25-vocab lesson).
    """
    grams = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(ngrams(tokenize(text_col), 2)).alias("gram"),
    )
    c12 = grams.groupBy("gram").agg(F.count("*").alias("c12"))
    prefix = F.substring_index(F.col("gram"), " ", 1)
    c1 = (
        grams.select(prefix.alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("c1"))
    )
    scored = (
        grams.join(c12, "gram")
        .withColumn("w1", prefix)
        .join(c1, "w1")
        .select(
            "doc_id",
            F.expr("c12 * 1000000 DIV c1").alias("microprob"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.sum("microprob").cast("bigint").alias("microprob_sum"),
    )

"""Deduplication operators for training-data pipelines.

Not present in the reference (its only dedup is ``set()`` on guests /
dict-key overwrite, SURVEY U2) — these are the scale extension the engine
needs at 100 TB (BASELINE.json north star). All variants are deterministic
and built from Catalyst expressions (md5 / explode / groupBy), so every one
is DuckDB-oracle-checkable.

Family:
- exact:      md5(text) group — one shuffle on a 32-byte key.
- minhash:    word-shingles → k seeded min-hashes → banded LSH buckets →
              candidate pairs. Shuffle is on (band_id, band_hash); candidate
              verification (true Jaccard) only touches pair texts.
- simhash:    32-bit weighted fingerprint; equal fingerprints ⇒ near-dup
              groups; hamming-ball search is a small band-join extension.
- ngram-jaccard: exact pairwise Jaccard via shingle-join — the verifier for
              minhash candidates (bounded subsets only; LSH is the scale path).
- embedding-cosine: near-dup by vector similarity (pairs above threshold).

Scale notes: the LSH design keeps everything linear in corpus size until
the final candidate-pair join; band width r and band count control the
precision/recall tradeoff (P(candidate) = 1-(1-j^r)^bands).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import stable_hash64, tokenize, tokenize_sql
from ..functions.vectors import cast_double_sql, dot_double_sql, isin_ints, sql_ident
from ..sources.index_catalog import (
    index_compact_if_reviving,
    index_dir,
    index_live,
    index_reset,
)
from ..sources.io import read_parquet


def exact_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of byte-identical texts: (text_hash, n_dups, min_doc_id)."""
    return (
        docs.select(
            F.md5(F.col(text_col)).alias("text_hash"),
            F.col(id_col).alias("doc_id"),
        )
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("n_dups"), F.min("doc_id").alias("min_doc_id")
        )
        .filter(F.col("n_dups") > 1)
    )


# Expressions with hundreds-to-thousands of tree nodes parse from ONE
# SQL string (one py4j round trip; assembling them node by node cost
# ~2 ms per node on the bench host), pinned by the dedup oracle rows.
_HASH64_SQL = "CAST(conv(substring(md5({x}), 1, 8), 16, 10) AS BIGINT)"


def shingles_sql(text_sql: str, n: int = 3) -> str:
    """Word n-gram shingles as array<string> (positional, space-joined).

    Pure Catalyst: sequence + transform + element_at; returns [] for docs
    shorter than n tokens. The token array is let-bound once (interpreted
    HOFs have no CSE — a raw tokenize subtree would re-run its regex for
    every shingle position × every element_at; see
    operators/textstats.py:ngrams)."""
    grams = ", ".join(f"element_at(t, i + {j})" for j in range(n))
    return (
        f"transform(array({tokenize_sql(text_sql)}), t -> "
        f"CASE WHEN size(t) < {n} THEN CAST(array() AS array<string>) "
        f"ELSE transform(sequence(1, size(t) - {n - 1}), "
        f"i -> concat_ws(' ', {grams})) END)[0]"
    )


def shingles(text_col: str, n: int = 3) -> Column:
    """:func:`shingles_sql` of the text column named ``text_col``."""
    return F.expr(shingles_sql(sql_ident(text_col), n))


def minhash_signatures_wide(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(doc_id, mh0 … mh{k-1}): k seeded min-hashes over word shingles.

    h(s, seed) = stable 32-bit md5-prefix hash (functions/text.py) so the
    signature is identical across engines.

    Wide shape on purpose: one aggregation with k min() columns over the
    exploded-shingle table instead of exploding shingles × seeds — the
    shuffle carries |shingles| rows, not |shingles|·k (the k-fold blowup
    was the dominant cost at bench scale and would be fatal at 100 TB).
    """
    sh = docs.select(
        F.col(id_col).alias("doc_id"), shingles(text_col, shingle_n).alias("sh")
    ).filter(F.size("sh") > 0)
    exploded = sh.select(
        "doc_id", F.explode(F.array_distinct("sh")).alias("shingle")
    )
    # hash each DISTINCT shingle once (vocab table), not once per
    # (doc, shingle) occurrence — same values, ~occurrences/distinct× less
    # md5 work. No broadcast hint: distinct shingles grow with the corpus,
    # so the planner must be free to shuffle-join when the vocab is big.
    # The k hash columns and k min-aggregates parse as SQL.
    vocab = exploded.select("shingle").distinct().selectExpr(
        "shingle",
        *[
            _HASH64_SQL.format(x=f"concat(shingle, '#{s}')") + f" AS _h{s}"
            for s in range(num_hashes)
        ],
    )
    return (
        exploded.join(vocab, "shingle")
        .groupBy("doc_id")
        .agg(*[F.expr(f"min(_h{s}) AS mh{s}") for s in range(num_hashes)])
    )


def minhash_bands_from_wide(
    sig: DataFrame, num_hashes: int = 16, band_size: int = 4
) -> DataFrame:
    """Band table derived from an ALREADY-BUILT wide signature frame —
    the projection half of :func:`minhash_bands`, split out so a caller
    that needs both the signatures and the bands (e.g. the Jaccard
    accuracy ladder) can build the expensive signature table once and
    derive the bands from it instead of re-running the shingle→vocab→
    min-agg pipeline per consumer."""
    n_bands = num_hashes // band_size
    # band-key expressions parse as ONE SQL string
    band_keys = ", ".join(
        "md5(concat_ws(',', {}))".format(
            ", ".join(
                f"CAST(mh{b * band_size + j} AS STRING)"
                for j in range(band_size)
            )
        )
        for b in range(n_bands)
    )
    return sig.select(
        "doc_id",
        F.posexplode(F.expr(f"array({band_keys})")).alias("band", "band_key"),
    )


def minhash_bands(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    band_size: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """The LSH band table (doc_id, band, band_key) — the standing index
    rows behind every MinHash dedup shape.

    Bands: the k minhashes split into k/band_size bands; a band's key is
    the md5 of its ordered minhash values. Each doc's rows depend only on
    its OWN shingles, which is what makes the index incremental: an
    appended batch mints its own band rows without touching the standing
    corpus (minhash_index_append).
    """
    sig = minhash_signatures_wide(docs, id_col, text_col, num_hashes, shingle_n)
    return minhash_bands_from_wide(sig, num_hashes, band_size)


def minhash_bands_projection(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    band_size: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Zero-shuffle per-row twin of :func:`minhash_bands` — value-
    identical output (tested), different physical shape.

    Each minhash is array_min over the doc's OWN shingle array (the min
    of a multiset equals the min of its distinct set, so no distinct is
    needed), computed entirely inside one codegen projection: no
    explode, no shingle-vocab distinct, no groupBy. That makes it (a)
    legal on a STREAMING frame (the batch shape's corpus-level distinct
    + agg are stateful) — streaming/dedup.py builds on this — and (b)
    the choice when the corpus is huge but cold (one pass, no shuffle).
    The batch shape stays preferable for repeated full builds: hashing
    each DISTINCT shingle once amortizes md5 work across duplicate
    shingles, which this per-row form re-pays per occurrence.

    Shingle and band keys are bit-identical to the batch shape
    (same stable_hash64 seeding, same md5 band key).

    The whole nested expression (~2,900 tree nodes) parses JVM-side
    from ONE SQL string (test_stream_dedup.py's projection==batch pins
    cover it end to end).
    """
    n_bands = num_hashes // band_size

    # let-bind shingles → minhashes → keys (interpreted HOFs have no CSE;
    # a raw subtree would recompute the shingle array per seed). The
    # zero-shingle guard lives INSIDE the let-binding as an empty key
    # array — a separate filter(size(shingles(...)) > 0) would evaluate
    # the whole tokenize+shingle pipeline a second time per row, doubling
    # the dominant cost on exactly the streaming hot path; posexplode of
    # [] emits zero rows, which is the same drop the batch shape's
    # pre-explode filter performs. The CASE's empty-array WHEN branch
    # also covers NULL text: NULL text → NULL shingle array → size() is
    # NULL, and a bare size==0 guard would fall through to the ELSE,
    # where element_at/concat_ws swallow the NULL minhashes and emit
    # n_bands rows all keyed md5('') — every null-text doc would falsely
    # collide with every other.

    seed_hash = _HASH64_SQL.format(x="concat(x, '#{s}')")
    mins = "array({})".format(
        ", ".join(
            f"array_min(transform(arr, x -> {seed_hash.format(s=s)}))"
            for s in range(num_hashes)
        )
    )
    keys_of_m = "array({})".format(
        ", ".join(
            "md5(concat_ws(',', {}))".format(
                ", ".join(
                    f"CAST(element_at(m, {b * band_size + j + 1}) AS STRING)"
                    for j in range(band_size)
                )
            )
            for b in range(n_bands)
        )
    )
    keys = (
        f"transform(array({shingles_sql(sql_ident(text_col), shingle_n)}), "
        f"arr -> CASE WHEN (arr IS NULL) OR (size(arr) = 0) "
        f"THEN CAST(array() AS array<string>) "
        f"ELSE transform(array({mins}), m -> {keys_of_m})[0] END)[0]"
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.expr(keys)).alias("band", "band_key"),
    )


def minhash_pairs_from_bands(bands: DataFrame) -> DataFrame:
    """Candidate near-dup pairs (doc_a < doc_b) sharing ≥1 LSH band. The
    self-join is on the band bucket — at scale this is the only quadratic
    term and it is bounded per bucket."""
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    band_size: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs (doc_a < doc_b) sharing ≥1 LSH band —
    the full-rebuild shape: band table + bucket self-join
    (minhash_bands / minhash_pairs_from_bands). The band table is
    checkpointed so the shingle→vocab-hash→min-agg signature pipeline
    runs once, not once per self-join side (r11 optimization round)."""
    return minhash_pairs_from_bands(
        minhash_bands(
            docs, id_col, text_col, num_hashes, band_size, shingle_n
        ).localCheckpoint(eager=False)
    )


def minhash_screen_batch(
    standing_bands: DataFrame, new_bands: DataFrame
) -> DataFrame:
    """Candidate pairs INTRODUCED by an appended batch: every (doc_a <
    doc_b) bucket collision with at least one side in the batch —
    new-vs-standing plus new-vs-new in ONE join whose probe side is the
    batch's band rows. The standing corpus contributes only its saved
    band table: no signature re-mint, no standing-vs-standing pairs
    (those were known when the standing index was built — the
    append==rebuild contract is ``known ∪ screened == rebuild(old∪new)``,
    proven in test_incremental_index.py).

    Scale shape: the big standing table is scanned once and joined on
    (band, band_key); no broadcast hint — a daily batch can itself be
    TB-scale, so the planner must stay free to pick the build side.
    Batch ids must be disjoint from standing ids (same contract as
    bm25_index_append / ivf_append).
    """
    cols = ["doc_id", "band", "band_key"]
    all_bands = standing_bands.select(cols).unionByName(
        new_bands.select(cols)
    )
    a = new_bands.alias("a")
    b = all_bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def _resolve_index_meta(
    spark, base: str, family: str, given: dict, legacy_defaults: dict
) -> dict:
    """Build-parameter resolution for the persisted dedup indexes: the
    1-row ``<base>/meta`` table written at save time is AUTHORITATIVE
    (the lsh_save_index precedent) — an append that re-minted band rows
    under different parameters would join them against an incompatible
    standing layout and durably corrupt the index. ``given`` holds the
    caller's explicit values (None = unspecified → use meta); a non-None
    value that CONFLICTS with the saved meta raises instead of silently
    winning. Pre-meta indexes on disk (no meta table) fall back to
    caller-or-legacy values, preserving old layouts."""
    import os

    from ..sources.io import read_meta_row

    meta = os.path.join(base, "meta")
    row = read_meta_row(meta)
    if row is None and os.path.isdir(meta):
        raise ValueError(f"{family} index meta at {meta} holds no row")
    if row is None:
        return {
            k: (given[k] if given.get(k) is not None else d)
            for k, d in legacy_defaults.items()
        }
    saved = {k: int(row[k]) for k in legacy_defaults}
    for k, v in given.items():
        if v is not None and int(v) != saved[k]:
            raise ValueError(
                f"{family} index at {base} was built with {k}={saved[k]} "
                f"but the call passed {k}={v}; a mismatched band layout "
                "would corrupt the index — rebuild with "
                f"{family}_save_index to change build parameters"
            )
    return saved


def _write_index_meta(spark, base: str, params: dict) -> None:
    import os

    from ..sources.io import one_slice_df

    one_slice_df(
        spark, [tuple(params.values())], list(params.keys())
    ).write.mode("overwrite").parquet(os.path.join(base, "meta"))


def minhash_save_index(
    docs: DataFrame,
    root: str,
    name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    band_size: int = 4,
    shingle_n: int = 3,
) -> str:
    """Persist the MinHash LSH band table as parquet next to the
    collection — build once (the expensive full-corpus signature job),
    screen many: the same deployment shape as bm25_save_index and
    ivf_save_index. Layout: <root>/<name>__minhash/{bands,meta};
    ``bands`` directory-partitioned by band so a probe that explodes a
    batch's bands prunes to the touched band directories, ``meta`` the
    1-row build-parameter table appends resolve against
    (_resolve_index_meta — call-site parameters cannot silently diverge
    from the persisted layout).
    """
    import os

    base = index_reset(root, name, "minhash")
    bands = minhash_bands(
        docs, id_col, text_col, num_hashes, band_size, shingle_n
    )
    bands.write.mode("overwrite").partitionBy("band").parquet(
        os.path.join(base, "bands")
    )
    _write_index_meta(
        spark=docs.sparkSession,
        base=base,
        params={
            "num_hashes": num_hashes,
            "band_size": band_size,
            "shingle_n": shingle_n,
        },
    )
    return base


def minhash_index_append(
    spark,
    root: str,
    name: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int | None = None,
    band_size: int | None = None,
    shingle_n: int | None = None,
) -> DataFrame:
    """Screen an appended batch against the PERSISTED standing index and
    make the append durable: mint band rows for the new docs only, return
    the newly-introduced candidate pairs (minhash_screen_batch), and
    append the new rows to the saved band table so the next batch screens
    against old ∪ new. The standing corpus is never re-signed — the
    incremental contract the BM25 (bm25_index_append) and IVF
    (ivf_append) indexes already keep, closing the one dedup-family gap.

    The returned pair frame is materialized BEFORE the parquet append (a
    lazy plan would otherwise re-read the bands directory after the
    append and double-count the batch against itself).

    Build parameters (num_hashes/band_size/shingle_n) resolve from the
    index's saved meta — leave them None; an explicit value that
    conflicts with the persisted layout raises (_resolve_index_meta).
    """
    import os

    base = index_dir(root, name, "minhash")
    path = os.path.join(base, "bands")
    p = _resolve_index_meta(
        spark,
        base,
        "minhash",
        {
            "num_hashes": num_hashes,
            "band_size": band_size,
            "shingle_n": shingle_n,
        },
        {"num_hashes": 16, "band_size": 4, "shingle_n": 3},
    )
    # screen against the LIVE view: tombstoned (deleted) docs must not
    # resurrect as collision evidence for the arriving batch
    standing = index_live(spark, root, name, "minhash")
    new_bands = minhash_bands(
        new_docs,
        id_col,
        text_col,
        p["num_hashes"],
        p["band_size"],
        p["shingle_n"],
    ).localCheckpoint(eager=True)
    pairs = minhash_screen_batch(standing, new_bands).localCheckpoint(
        eager=True
    )
    # re-ingesting a previously-deleted id revives it: the band table
    # compacts first (merely clearing the tombstone would resurrect the
    # doc's STALE band rows — changed content would then collide under
    # its old signature too)
    index_compact_if_reviving(
        spark, root, name, "minhash",
        new_docs.select(F.col(id_col).alias("doc_id")),
    )
    new_bands.write.mode("append").partitionBy("band").parquet(path)
    return pairs


def simhash_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """(doc_id, simhash): tf-weighted SimHash over tokens.

    Per token t with frequency tf: hash h(t); bit j contributes +tf if set
    else −tf; fingerprint bit j = 1 iff the sum is > 0.
    """
    toks = docs.select(F.col(id_col).alias("doc_id"), tokenize(text_col).alias("t"))
    exploded = toks.select("doc_id", F.explode("t").alias("term"))
    # hash each DISTINCT term once (broadcast vocab join) — same values as
    # hashing inline, a fraction of the md5 work
    vocab = exploded.select("term").distinct().select(
        "term", stable_hash64(F.col("term")).alias("h")
    )
    tf = (
        exploded.groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .join(vocab, "term")  # planner picks broadcast vs shuffle by size
    )
    # One wide aggregation with `bits` sum columns instead of exploding
    # (doc, term) × bits — the shuffle carries |terms| rows, not |terms|·bits.
    # Bit test via shiftright(h, j) & 1: integer ops beat the float
    # div+floor+mod form ~20% on the |doc,term|×bits hot loop (r6 tuned-
    # session A/B 2.10→1.66 s at sf0.1) and return the SAME values for
    # the 32-bit-range hash, so the arithmetic SQL oracle
    # (floor(h / 2^j) % 2) is unchanged.
    #
    # The `bits` sum aggregates and the 32-term fingerprint chain parse
    # JVM-side as SQL (one round trip per aggregate + one for the chain,
    # instead of ~400 tree nodes at one round trip each), pinned by the
    # dedup_simhash* oracle rows.
    bit_sums = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h, {j}) & 1) = 1"
            f" THEN tf ELSE -tf END) AS _s{j}"
        )
        for j in range(bits)
    ]
    sums = tf.groupBy("doc_id").agg(*bit_sums)
    fingerprint = " + ".join(
        f"CASE WHEN _s{j} > 0 THEN CAST({2**j} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END"
        for j in range(bits)
    )
    return sums.selectExpr("doc_id", f"{fingerprint} AS simhash")


def simhash_fingerprints_projection(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """Zero-shuffle per-row twin of :func:`simhash_fingerprints` —
    value-identical output (tested), different physical shape; the
    SimHash analog of :func:`minhash_bands_projection`.

    A doc's fingerprint depends only on its own token multiset: bit j's
    balance is Σ over token OCCURRENCES of ±1 (summing per occurrence
    equals the batch shape's tf-weighted per-term sum), so the whole
    fingerprint folds inside one codegen projection — no explode, no
    term-vocab distinct, no groupBy. That makes it legal on a STREAMING
    frame (streaming/dedup.py stream_simhash_screen builds on it) and
    the one-pass choice for a cold corpus. The batch shape stays
    preferable for repeated full builds: it hashes each DISTINCT term
    once, which this per-row form re-pays per occurrence.

    Token hashes are let-bound via the singleton-array transform (the
    same interpreted-HOF-no-CSE workaround as the MinHash projection):
    without it each of the ``bits`` aggregates would re-hash every
    token. Docs with NULL/token-less text emit ZERO rows, exactly like
    the batch shape's explode.

    The whole expression (~7,600 tree nodes) parses JVM-side from ONE
    SQL string (projection==batch pins in test_properties.py /
    test_stream_dedup.py cover it end to end).
    """

    # per-bit balance: a left fold over the let-bound token hashes; the
    # CAST binds the whole CASE (same tree as the retired when/otherwise
    # chain), and the fingerprint is the same left-assoc add chain
    bit_sums = [
        f"aggregate(hs, CAST(0 AS BIGINT), (acc, h) -> acc + "
        f"CAST(CASE WHEN (shiftright(h, {j}) & 1) = 1 THEN 1 ELSE -1 END"
        f" AS BIGINT))"
        for j in range(bits)
    ]
    fp = " + ".join(
        f"CASE WHEN {s} > 0 THEN CAST({2**j} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END"
        for j, s in enumerate(bit_sums)
    )
    hashes = (
        f"transform(array({tokenize_sql(sql_ident(text_col))}), "
        f"toks -> transform(toks, t -> {_HASH64_SQL.format(x='t')}))[0]"
    )
    fp_arr = (
        f"transform(array({hashes}), hs -> "
        f"CASE WHEN (hs IS NULL) OR (size(hs) = 0) "
        f"THEN CAST(array() AS array<bigint>) "
        f"ELSE array({fp}) END)[0]"
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.expr(fp_arr)).alias("simhash"),
    )


def _simhash_band_split(
    fp: DataFrame, bits: int, max_hamming: int
) -> DataFrame:
    """Split a (doc_id, simhash) frame into the pigeonhole band table
    (doc_id, simhash, band, bval) — the ONE band layout both the batch
    and projection builds share (the projection==batch value-identity
    contract depends on this being a single definition)."""
    n_bands = max_hamming + 1
    band_bits = bits // n_bands
    # band expressions parse as ONE SQL string
    band_vals = ", ".join(
        f"CAST(floor(simhash / {float(2 ** (band_bits * b))!r}D) AS BIGINT)"
        f" % {2 ** band_bits}"
        for b in range(n_bands)
    )
    return fp.select(
        "doc_id",
        "simhash",
        F.posexplode(F.expr(f"array({band_vals})")).alias("band", "bval"),
    )


def simhash_bands_projection(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
) -> DataFrame:
    """Per-row twin of :func:`simhash_bands` — same (doc_id, simhash,
    band, bval) rows from the zero-shuffle fingerprint projection; the
    band split itself is already a pure scalar posexplode."""
    return _simhash_band_split(
        simhash_fingerprints_projection(docs, id_col, text_col, bits),
        bits,
        max_hamming,
    )


def simhash_bands(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash pigeonhole band table (doc_id, simhash, band, bval) — the
    standing index rows behind hamming-ball search. The fingerprint
    splits into (max_hamming + 1) bands; any pair within the ball must
    share at least one intact band. Fingerprints depend only on each
    doc's own term frequencies, so the table is incremental exactly like
    the MinHash band table (simhash_index_append)."""
    return _simhash_band_split(
        simhash_fingerprints(docs, id_col, text_col, bits), bits, max_hamming
    )


def _simhash_verify(cand: DataFrame, max_hamming: int) -> DataFrame:
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("bigint"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_neardup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.

    Banding: the fingerprint splits into (max_hamming + 1) byte-bands; any
    pair within the hamming ball must share at least one intact band
    (pigeonhole), so the candidate join is on (band_index, band_value) and
    the exact hamming check only runs on candidates. Exact result, no
    quadratic scan.
    """
    # the band table feeds both sides of the candidate self-join —
    # without the checkpoint the tokenize→tf→32-bit-fold fingerprint
    # pipeline replans (and re-executes) per side (r11 optimization
    # round; the minhash_pairs_from_bands callers get the same reuse
    # from their own checkpointed band frames)
    bands = simhash_bands(docs, id_col, text_col, bits, max_hamming)
    bands = bands.localCheckpoint(eager=False)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return _simhash_verify(cand, max_hamming)


def simhash_screen_batch(
    standing_bands: DataFrame,
    new_bands: DataFrame,
    max_hamming: int = 3,
) -> DataFrame:
    """Hamming-ball pairs INTRODUCED by an appended batch — the SimHash
    twin of minhash_screen_batch: new-vs-standing plus new-vs-new in one
    band join whose probe side is the batch; the standing corpus
    contributes only its saved (doc_id, simhash, band, bval) rows, never
    a re-fingerprint. Same disjoint-id and append==rebuild contract."""
    cols = ["doc_id", "simhash", "band", "bval"]
    all_bands = standing_bands.select(cols).unionByName(
        new_bands.select(cols)
    )
    a = new_bands.alias("a")
    b = all_bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
            # simhash travels with doc_id, so least/greatest on the pair
            # keys picks the matching fingerprints deterministically
            F.when(
                F.col("a.doc_id") < F.col("b.doc_id"), F.col("a.simhash")
            )
            .otherwise(F.col("b.simhash"))
            .alias("sh_a"),
            F.when(
                F.col("a.doc_id") < F.col("b.doc_id"), F.col("b.simhash")
            )
            .otherwise(F.col("a.simhash"))
            .alias("sh_b"),
        )
        .distinct()
    )
    return _simhash_verify(cand, max_hamming)


def simhash_save_index(
    docs: DataFrame,
    root: str,
    name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
) -> str:
    """Persist the SimHash band table (<root>/<name>__simhash/bands,
    directory-partitioned by band) — build once, screen many; mirrors
    minhash_save_index, including the 1-row ``meta`` build-parameter
    table appends resolve against."""
    import os

    base = index_reset(root, name, "simhash")
    simhash_bands(docs, id_col, text_col, bits, max_hamming).write.mode(
        "overwrite"
    ).partitionBy("band").parquet(os.path.join(base, "bands"))
    _write_index_meta(
        spark=docs.sparkSession,
        base=base,
        params={"bits": bits, "max_hamming": max_hamming},
    )
    return base


def simhash_index_append(
    spark,
    root: str,
    name: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int | None = None,
    max_hamming: int | None = None,
) -> DataFrame:
    """Screen an appended batch against the PERSISTED SimHash index,
    return the newly-introduced hamming-ball pairs, and append the
    batch's band rows so the next batch screens against old ∪ new —
    the same contract as minhash_index_append / bm25_index_append /
    ivf_append. Pairs materialize eagerly BEFORE the parquet append
    (a lazy plan would re-read the bands directory and double-count
    the batch against itself). Build parameters (bits/max_hamming)
    resolve from the saved meta — leave them None; an explicit value
    that conflicts with the persisted band layout raises
    (_resolve_index_meta)."""
    import os

    base = index_dir(root, name, "simhash")
    path = os.path.join(base, "bands")
    p = _resolve_index_meta(
        spark,
        base,
        "simhash",
        {"bits": bits, "max_hamming": max_hamming},
        {"bits": 32, "max_hamming": 3},
    )
    # LIVE view + compact-on-revive: same contract as the MinHash twin
    standing = index_live(spark, root, name, "simhash")
    new_bands = simhash_bands(
        new_docs, id_col, text_col, p["bits"], p["max_hamming"]
    ).localCheckpoint(eager=True)
    pairs = simhash_screen_batch(
        standing, new_bands, p["max_hamming"]
    ).localCheckpoint(eager=True)
    index_compact_if_reviving(
        spark, root, name, "simhash",
        new_docs.select(F.col(id_col).alias("doc_id")),
    )
    new_bands.write.mode("append").partitionBy("band").parquet(path)
    return pairs


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard similarity over word-shingle sets for pairs sharing at
    least one shingle. Output (doc_a, doc_b, jaccard≥threshold).

    Quadratic in the worst case — use on bounded subsets or as the verifier
    behind minhash_lsh_pairs at scale.
    """
    sh = docs.select(
        F.col(id_col).alias("doc_id"), shingles(text_col, shingle_n).alias("sh")
    ).filter(F.size("sh") > 0)
    sizes = sh.select(
        "doc_id", F.size(F.array_distinct("sh")).alias("n_sh")
    )
    exploded = sh.select("doc_id", F.explode(F.array_distinct("sh")).alias("shingle"))
    a = exploded.alias("a")
    b = exploded.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "nb"), "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_prefix_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold_num: int = 3,
    threshold_den: int = 10,
) -> DataFrame:
    """Set-similarity join with prefix filtering (Chaudhuri et al. ICDE'06;
    Bayardo et al. WWW'07 "All-Pairs" — public): EXACT same output as
    :func:`ngram_jaccard_pairs` at threshold num/den, but candidate pairs
    are generated only from each document's PREFIX under a global
    rarest-first token order, not from every shared shingle.

    Prefix-filter principle: J(A,B) ≥ t ⇒ |A∩B| ≥ ⌈t·|A|⌉, and any pair
    with |A∩B| ≥ c must share a token within the first |A|−c+1 tokens of A
    (sorted by the global order) — so joining prefixes of length
    n − ⌈t·n⌉ + 1 on BOTH sides loses no qualifying pair. Rarest-first
    ordering (document frequency asc, then token) makes prefixes land on
    low-frequency tokens, so the candidate equi-join fans out far less
    than the full shingle join. Threshold is a rational num/den so the
    prefix length is exact integer arithmetic (no float ceil).

    Scale shape: the only shuffles are the df-count agg (map-side
    combinable, |vocab| keys), the per-doc row_number (doc-partitioned),
    the prefix equi-join (rare keys by construction), and one candidate
    pair join back to the per-doc shingle arrays; verification is
    per-pair array_intersect — no full inverted-index self-join.
    """
    sh = docs.select(
        F.col(id_col).alias("doc_id"), shingles(text_col, shingle_n).alias("sh")
    ).filter(F.size("sh") > 0)
    sets_ = sh.select(
        "doc_id",
        F.array_distinct("sh").alias("sh_set"),
    ).withColumn("n_sh", F.size("sh_set"))
    exploded = sets_.select(
        "doc_id", "n_sh", F.explode("sh_set").alias("shingle")
    )
    df_counts = exploded.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("df")
    )
    ordered = exploded.join(df_counts, "shingle").withColumn(
        "pos",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy("df", "shingle")
        ),
    )
    # prefix length p = n − ⌈t·n⌉ + 1, ceil in exact integers
    prefix = ordered.filter(
        F.col("pos")
        <= F.col("n_sh")
        - (
            (F.col("n_sh") * threshold_num + threshold_den - 1)
            / threshold_den
        ).cast("bigint")
        + 1
    ).select("doc_id", "shingle")
    pa = prefix.alias("a")
    pb = prefix.alias("b")
    cand = (
        pa.join(
            pb,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sa = sets_.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh_set").alias("set_a"),
        F.col("n_sh").alias("na"),
    )
    sb = sets_.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh_set").alias("set_b"),
        F.col("n_sh").alias("nb"),
    )
    verified = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "inter", F.size(F.array_intersect("set_a", "set_b")).cast("bigint")
        )
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
        )
        # same float comparison as ngram_jaccard_pairs (and the SQL
        # oracle), so boundary ratios resolve identically
        .filter(F.col("jaccard") >= threshold_num / threshold_den)
    )
    return verified.select("doc_a", "doc_b", "jaccard")


def embedding_neardup_pairs_bucketed(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_centroids: int = 16,
) -> DataFrame:
    """The 100 TB path for embedding near-dup: assign vectors to IVF
    buckets, pair-join only within a bucket, exact-cosine check the
    candidates. Quadratic cost drops to Σ bucket², at the price of missing
    pairs that straddle a centroid boundary (recall measured in tests;
    raise n_probe-style overlap by lowering n_centroids for higher recall).
    """
    from .ann import ivf_build

    # keep_vec assignments carry the (double-cast) vector — no
    # corpus⋈assignment id join, and the pair cosine folds raw (r6)
    _, slim = ivf_build(
        vectors,
        id_col=id_col,
        vec_col=vec_col,
        n_centroids=n_centroids,
        keep_vec=True,
    )
    a = slim.alias("a")
    # pin the probe side's distribution on the bucket key with an
    # explicit partition count: the pair join's quadratic OUTPUT is
    # invisible to size-based planning AND to AQE's coalescer (which
    # only sees the tiny pre-join input), so without this the scoring
    # can stream at scan parallelism — one task for a one-file corpus
    # (same finding as semantic_dedup, measured 3.27 → 1.49 s there)
    n_parts = int(
        vectors.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    b = slim.repartition(n_parts, "centroid_id").alias("b")
    return (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .withColumn(
            "cosine", F.expr(dot_double_sql("a._v", "b._v"))
        )
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            "cosine",
        )
    )


def embedding_neardup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Pairs of vectors with cosine ≥ threshold (doc_a < doc_b).

    Brute-force O(n²) — correctness oracle for bounded subsets; the scale
    path buckets by LSH/IVF (operators/ann.py) before the pair join.
    """

    dv = F.expr(cast_double_sql(sql_ident(vec_col)))
    a = vectors.select(
        F.col(id_col).alias("vec_a"), dv.alias("_va")
    ).alias("a")
    b = vectors.select(
        F.col(id_col).alias("vec_b"), dv.alias("_vb")
    ).alias("b")
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", F.expr(dot_double_sql("_va", "_vb")))
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


def duplicated_kgram_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
) -> DataFrame:
    """Exact-substring duplication audit (the k-gram variant of
    "Deduplicating Training Data Makes Language Models Better", Lee et
    al., ACL '22 — public): a token k-gram that occurs in more than one
    place across the corpus marks a duplicated span.

    Returns per-doc (id, n_kgrams, n_dup_kgrams, dup_ratio): how much of
    the document lies on corpus-duplicated k-gram spans — the signal the
    suffix-array method thresholds; k-grams trade its exact maximal spans
    for a two-shuffle plan with no global sort.

    Plan shape: tokenize → per-doc k-gram fingerprints built inside one
    Catalyst ``transform`` over an index ``sequence`` (no UDF, no
    row explosion until the single explode) → count per fingerprint (one
    shuffle, map-side combined) → duplicated set back onto docs (second
    shuffle). Fingerprints are md5 of the joined token slice — exact
    (collision-free in practice) and engine-portable, unlike a rolling
    hash mod 2^64 which DuckDB cannot reproduce with identical overflow.

    ``dup_ratio`` = n_dup_kgrams / n_kgrams as DOUBLE (exact integer
    inputs; identical IEEE division in both engines). Docs shorter than k
    tokens have zero k-grams and ratio 0.
    """
    from ..functions.text import tokenize

    toks = docs.select(
        F.col(id_col).alias("id"), tokenize(text_col).alias("toks")
    )
    grams = toks.select(
        "id",
        F.when(
            F.size("toks") >= k,
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - (k - 1)),
                lambda i: F.md5(F.array_join(F.slice("toks", i, k), " ")),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("grams"),
    )
    # ONE pass computes the gram fingerprints (tokenize + k·md5 per doc is
    # the dominant cost). explode_outer keeps zero-gram docs so no second
    # scan is needed for the base row set. The duplicate test is TWO
    # map-side-combinable aggregations, never a window over g: a
    # Window.partitionBy(g) count (the r4 plan) funnels EVERY occurrence
    # of a hot gram (common boilerplate) into one task with no partial
    # aggregation — the ADVICE r4 skew finding. Here stage 1 groups by
    # (g, id) — a hot gram's rows split across the docs containing it —
    # and stage 2 sums the already-combined per-doc counts by g; both
    # shuffles carry partial aggregates. per_doc feeds both the count
    # branch and the join-back probe; neither ReuseExchange nor AQE
    # dedupes the shared (g, id) exchange (measured: 2 corpus scans, 0
    # ReusedExchange), so the frame is checkpointed — ONE tokenize +
    # explode + partial-agg pass, two shuffle reads. Local cost ≈ noise
    # (1.54 s vs 1.58 s at sf0.1); at 100 TB it halves the dominant scan
    # (SCALE.md, r6 A/B).
    ex = grams.select(
        "id",
        F.size("grams").alias("n_kgrams"),
        F.explode_outer("grams").alias("g"),
    )
    per_doc = ex.groupBy("g", "id").agg(
        F.max("n_kgrams").alias("n_kgrams"),
        F.count(F.col("g")).alias("n_in_doc"),
    ).localCheckpoint(eager=False)
    totals = (
        per_doc.filter(F.col("g").isNotNull())
        .groupBy("g")
        .agg(F.sum("n_in_doc").alias("n_total"))
    )
    flagged = per_doc.join(totals, "g", "left").select(
        "id",
        "n_kgrams",
        F.when(
            F.col("g").isNotNull() & (F.col("n_total") > 1),
            F.col("n_in_doc"),
        )
        .otherwise(F.lit(0))
        .alias("n_dup_in_doc"),
    )
    return flagged.groupBy("id").agg(
        F.max("n_kgrams").cast("bigint").alias("n_kgrams"),
        F.sum("n_dup_in_doc").cast("bigint").alias("n_dup_kgrams"),
    ).select(
        "id",
        "n_kgrams",
        "n_dup_kgrams",
        F.when(
            F.col("n_kgrams") > 0,
            F.col("n_dup_kgrams") / F.col("n_kgrams").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_ratio"),
    )


def semantic_dedup(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """SemDeDup (Abbas et al. '23, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication" — public): cluster the
    embedding space, then deduplicate WITHIN each cluster — a vector is
    dropped when a lower-id vector in the same cluster has cosine
    similarity >= threshold. Clustering makes the quadratic pair search
    local: |cluster|^2 instead of n^2, and each cluster's pair join is an
    equi-join on the cluster id (co-partitioned, no global shuffle of the
    pair space).

    ``centroids`` is a (centroid_id, centroid) frame — any deterministic
    codebook works (ivf_build's hash-mod sample, ivf_refine's k-means, or
    a fixed id-prefix rule when cross-engine reproducibility matters).
    Assignment reuses the IVF broadcast-argmin projection (the corpus is
    never shuffled to find its cluster).

    Returns one row per vector: (vec_id, centroid_id, n_dup_lower,
    is_kept) — all BIGINT, no float outputs; the only float comparisons
    are the assignment argmin and the threshold test, both computed as
    identical left-to-right folds in any engine.

    At 100 TB: raise the centroid count so clusters stay bounded (the
    SemDeDup paper uses ~100k clusters for web corpora), and raise
    ``n_blocks`` for insurance against the clusters k-means can't balance.

    Skew guard (VERDICT r4 "What's wrong" #1): the within-cluster pair
    join is BLOCKED — each vector gets a secondary hash block in
    0..n_blocks-1, the lo side is replicated once per block, and the join
    key is (centroid_id, hi-side block). Every (lo, hi) pair still meets
    EXACTLY once (lo is replicated to hi's block; hi is not replicated),
    so the output is identical to the unblocked join — but a degenerate
    corpus that lands one giant cluster of size S now spreads its S²
    comparisons across n_blocks join keys (S²/n_blocks per task) instead
    of one task, at the price of an S·n_blocks shuffle on the lo side.
    """
    from .ann import assign_nearest_centroid


    # Two plan-shape rules, both r6 same-session A/Bs:
    # 1. keep_vec=True carries the vector THROUGH the broadcast-argmin
    #    assignment — the old corpus.join(asg, "vec_id") shuffled the
    #    whole corpus against its own assignment for nothing;
    # 2. cast to double ONCE per row before the pair join: inside the
    #    join the cast re-runs per PAIR (S²/2 per cluster instead of S)
    #    — 2.24 s → 1.37 s at sf0.1, bitwise-identical results (cast-
    #    then-fold is the same fold either way).
    b = assign_nearest_centroid(
        corpus, centroids, id_col=id_col, vec_col=vec_col, keep_vec=True
    ).withColumn(
        "_blk",
        (F.crc32(F.col("vec_id").cast("string")) % n_blocks).cast("int"),
    )
    # The hi (probe) side is EXPLICITLY repartitioned on the join keys:
    # the pair join's cost is its OUTPUT (S² dot products per cluster),
    # which is invisible to size-based planning — when the planner
    # broadcasts the replicated lo side, the quadratic scoring streams
    # at the PROBE side's parallelism, which for an un-shuffled corpus
    # is the scan's (one task for a single-file corpus). The explicit
    # hash distribution pins scoring parallelism to the (centroid,
    # block) key space under ANY join strategy — exactly the guarantee
    # the secondary-hash block design is for.
    x = b.select(
        F.col("vec_id").alias("lo_id"),
        F.col("_v").alias("lo_v"),
        "centroid_id",
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("_jblk"),
    )
    # numPartitions is pinned explicitly (REPARTITION_BY_NUM): a
    # column-only repartition is an AQE-coalescible hint, and AQE sees
    # only the tiny pre-join input — it would coalesce back to one
    # partition and re-serialize the scoring.
    n_parts = int(
        corpus.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    y = b.select(
        F.col("vec_id").alias("hi_id"),
        F.col("_v").alias("hi_v"),
        "centroid_id",
        F.col("_blk").alias("_jblk"),
    ).repartition(n_parts, "centroid_id", "_jblk")
    dups = (
        x.join(y, ["centroid_id", "_jblk"])
        .filter(F.col("lo_id") < F.col("hi_id"))
        .filter(
            F.expr(dot_double_sql("lo_v", "hi_v")) >= F.lit(threshold)
        )
        .groupBy(F.col("hi_id").alias("vec_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_dup_lower"))
    )
    return (
        b.select("vec_id", "centroid_id")
        .join(dups, "vec_id", "left")
        .select(
            "vec_id",
            F.col("centroid_id").cast("bigint").alias("centroid_id"),
            F.coalesce("n_dup_lower", F.lit(0)).cast("bigint").alias(
                "n_dup_lower"
            ),
            (F.coalesce("n_dup_lower", F.lit(0)) == 0)
            .cast("bigint")
            .alias("is_kept"),
        )
    )


def _semantic_asg_norm(asg: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """(vec_id, centroid_id, _v double[]) projection of an assignment
    frame — accepts either the in-flight ``_v`` column (keep_vec=True
    output) or a stored ``embedding`` column, casting to double ONCE per
    row (the r6 SemDeDup lesson: inside a pair join the cast re-runs per
    PAIR)."""
    vc = "_v" if "_v" in asg.columns else vec_col
    return asg.select(
        "vec_id",
        "centroid_id",
        F.expr(cast_double_sql(sql_ident(vc))).alias("_v"),
    )


def semantic_screen_batch(
    standing_asg: DataFrame,
    batch_asg: DataFrame,
    threshold: float = 0.4,
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs INTRODUCED by an appended batch — the
    SemDeDup family's incremental screen, completing the per-family
    trio after minhash_screen_batch and simhash_screen_batch: every
    same-cluster pair with cosine >= ``threshold`` and at least one
    side in the batch, batch-vs-standing plus batch-vs-batch in ONE
    join on centroid_id. The standing corpus contributes only its saved
    assignment rows (vec_id, centroid_id, vector): no re-clustering, no
    standing-vs-standing pairs (those were known when the standing
    index was built — ``known ∪ screened == rebuild(old ∪ new)`` holds
    because cluster assignment is per-row under a FROZEN codebook, so
    the rebuild's clusters are the union of both sides' assignments).

    Pair uniqueness needs no distinct: each vector lives in exactly one
    cluster, batch-vs-standing pairs surface only from the batch probe
    side, and batch-vs-batch pairs are oriented by the ``a < b`` arm of
    the join condition — so the symmetric dot product is computed once
    per pair, not recomputed for a dedup pass.

    Scale shape: the standing table is scanned once and equi-joined on
    centroid_id — quadratic work stays local to each cluster (the
    SemDeDup property) and is bounded by |cluster| x |batch ∩ cluster|
    per key; no broadcast hint because a daily batch can itself be
    TB-scale (same contract as minhash_screen_batch). Callers holding a
    centroid_id-partitioned standing table should pre-filter it to the
    batch's assigned centroids (semantic_index_append does — static
    partition pruning; rows in untouched clusters can never join).

    Batch ids MUST be disjoint from standing ids — the shared append
    contract across every persisted family: a batch id already standing
    would pair once per arm it reaches (the pair orientation and the
    once-per-pair dot-product guarantee both assume disjointness), and
    the ``!=`` guard only suppresses literal self-pairs, not duplicate
    emissions. At-least-once DELIVERY is the append wrapper's job:
    semantic_index_append(dedupe_redelivered=True) drops already-
    standing ids before screening. Reference analog: the collection's
    incremental upsert flow (src/database/weaviate_interface_v4.py
    add-data batching) — near-dup screening on arrival instead of
    server-side HNSW upkeep.

    Returns (vec_a, vec_b, centroid_id, cosine) with vec_a < vec_b.
    """

    a = _semantic_asg_norm(batch_asg, vec_col).alias("a")
    b = (
        _semantic_asg_norm(standing_asg, vec_col)
        .withColumn("_st", F.lit(1))
        .unionByName(
            _semantic_asg_norm(batch_asg, vec_col).withColumn(
                "_st", F.lit(0)
            )
        )
        .alias("b")
    )
    sim = F.expr(dot_double_sql("a._v", "b._v"))
    return (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("a.vec_id") != F.col("b.vec_id"))
            & ((F.col("b._st") == 1) | (F.col("a.vec_id") < F.col("b.vec_id"))),
        )
        .filter(sim >= F.lit(float(threshold)))
        .select(
            F.least("a.vec_id", "b.vec_id").alias("vec_a"),
            F.greatest("a.vec_id", "b.vec_id").alias("vec_b"),
            F.col("a.centroid_id").cast("bigint").alias("centroid_id"),
            sim.alias("cosine"),
        )
    )


def semantic_save_index(
    corpus: DataFrame,
    centroids: DataFrame,
    root: str,
    name: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Persist the SemDeDup standing state — the (vec_id, centroid_id,
    embedding) assignment table partitioned by centroid_id plus the
    FROZEN centroid codebook — giving the embedding dedup family the
    same build-once / screen-many deployment shape as
    minhash_save_index and simhash_save_index. The partition layout is
    the probe-pruning one: an arriving batch touches only the centroid
    directories its vectors assign to, and stream_semantic_screen's
    stream-static join reads the same live view. Layout:
    <root>/<name>__semantic/{assignments,centroids}.
    """
    import os

    from .ann import assign_nearest_centroid

    base = index_reset(root, name, "semantic")
    asg = assign_nearest_centroid(
        corpus, centroids, id_col=id_col, vec_col=vec_col, keep_vec=True
    )
    asg.select(
        "vec_id", "centroid_id", F.col("_v").alias("embedding")
    ).write.mode("overwrite").partitionBy("centroid_id").parquet(
        os.path.join(base, "assignments")
    )
    centroids.write.mode("overwrite").parquet(
        os.path.join(base, "centroids")
    )
    return base


def semantic_load_centroids(spark, root: str, name: str) -> DataFrame:
    """The frozen codebook saved by semantic_save_index — append-time
    assignment MUST use it (re-deriving centroids from old ∪ new would
    silently re-cluster the standing corpus and break the
    append==rebuild contract)."""
    import os

    return read_parquet(
        spark, os.path.join(index_dir(root, name, "semantic"), "centroids")
    )


def semantic_index_append(
    spark,
    root: str,
    name: str,
    new_vecs: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dedupe_redelivered: bool = False,
) -> DataFrame:
    """Screen an appended batch against the PERSISTED standing semantic
    index and make the append durable: assign the new vectors under the
    FROZEN saved codebook (semantic_load_centroids — never re-derived),
    return the newly-introduced near-dup pairs (semantic_screen_batch,
    batch-vs-live-standing plus batch-vs-batch), and append the batch's
    assignment rows so the next batch screens against old ∪ new. The
    standing corpus is never re-clustered — the incremental contract
    every other persisted family (BM25/IVF/PQ/LSH/MinHash/SimHash)
    already keeps; this closes the embedding dedup family.

    The standing side is pre-filtered to the batch's ASSIGNED centroid
    set (a bounded ≤|codebook| collect, re-entered as literals — the
    routed_query_pipeline pattern) so the partitioned assignments scan
    statically prunes to the touched centroid directories; rows in
    untouched clusters can never satisfy the centroid equi-join, so the
    filter is a pure read reduction. Plan-pinned in
    test_semantic_lifecycle.py.

    ``dedupe_redelivered=True`` makes the append idempotent under
    at-least-once delivery (a retried foreachBatch epoch whose write
    committed but whose checkpoint didn't): batch ids already LIVE in
    the standing index are dropped before screening and writing —
    correct against the pruned standing slice because redelivery means
    identical bytes, and identical bytes assign to the same centroid
    under the frozen codebook. The comparison is against the live view,
    so a tombstoned id re-arriving still revives (the delete/revive
    semantics below). Default False: the strict id-disjointness
    contract every other family's append keeps, with no extra work.

    The returned pair frame is materialized BEFORE the parquet append
    (a lazy plan would re-read the assignments directory after the
    append and screen the batch against itself — the
    minhash_index_append lesson); re-ingesting a tombstoned id compacts
    first (compact_if_reviving) so stale assignment rows cannot revive
    next to the re-appended ones.
    """
    import os

    from .ann import assign_nearest_centroid

    path = os.path.join(index_dir(root, name, "semantic"), "assignments")
    centroids = semantic_load_centroids(spark, root, name)
    new_asg = assign_nearest_centroid(
        new_vecs, centroids, id_col=id_col, vec_col=vec_col, keep_vec=True
    ).localCheckpoint(eager=True)
    touched = [
        r["centroid_id"]
        for r in new_asg.select("centroid_id").distinct().collect()
    ]
    live = index_live(spark, root, name, "semantic")
    standing = live.filter(isin_ints("centroid_id", touched))
    if dedupe_redelivered:
        new_asg = new_asg.join(
            standing.select("vec_id"), "vec_id", "left_anti"
        ).localCheckpoint(eager=True)
    pairs = semantic_screen_batch(
        standing, new_asg, threshold
    ).localCheckpoint(eager=True)
    index_compact_if_reviving(
        spark, root, name, "semantic", new_asg.select("vec_id")
    )
    new_asg.select(
        "vec_id", "centroid_id", F.col("_v").alias("embedding")
    ).write.mode("append").partitionBy("centroid_id").parquet(path)
    return pairs

"""Unit tests for operators/bpe.py (driver parity is covered by
test_oracle_parity on bpe_learn_merges / bpe_encode_corpus)."""

from __future__ import annotations

from pyspark.sql import functions as F

from vectorsearch_applications_spark.operators.bpe import (
    apply_merge,
    encode_corpus,
    encode_vocab,
    learn_bpe_merges,
    word_frequency_table,
)


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(rows)], "doc_id long, text string"
    )


def _words(spark, rows):
    return spark.createDataFrame(rows, "syms string, cnt long")


def test_bpe_merge_greedy_on_runs(spark):
    # greedy left-to-right: a a a a -> aa aa; a a a -> aa a
    w = _words(spark, [("a a a a", 1), ("a a a", 1), ("b a a", 1)])
    got = {r["syms"] for r in apply_merge(w, "a", "a").collect()}
    assert got == {"aa aa", "aa a", "b aa"}


def test_bpe_merged_symbol_does_not_remerge_same_iteration(spark):
    # after (a,b) merges, the new 'ab' tail must not consume a following b
    w = _words(spark, [("a b b", 1)])
    assert apply_merge(w, "a", "b").collect()[0]["syms"] == "ab b"


def test_bpe_full_token_check_no_suffix_false_positive(spark):
    # tail symbol 'xa' must not fire the (a, b) merge
    w = _words(spark, [("xa b", 1)])
    assert apply_merge(w, "a", "b").collect()[0]["syms"] == "xa b"


def test_bpe_learns_expected_sequence(spark):
    # 'abab' x3: pairs (a,b)x2*3=6 overlapping, (b,a)x3 -> first merge (a,b)
    # then 'ab ab' pairs (ab,ab)x3 -> second merge (ab,ab)
    docs = _docs(spark, ["abab abab abab"])
    merges = {
        r["merge_rank"]: (r["left_sym"], r["right_sym"], r["pair_count"])
        for r in learn_bpe_merges(spark, docs, n_merges=2).collect()
    }
    assert merges[1] == ("a", "b", 6)
    assert merges[2] == ("ab", "ab", 3)


def test_bpe_tie_breaks_lexicographically(spark):
    docs = _docs(spark, ["zy ba"])  # (z,y) and (b,a) each count 1
    (m,) = learn_bpe_merges(spark, docs, n_merges=1).collect()
    assert (m["left_sym"], m["right_sym"]) == ("b", "a")


def test_encode_vocab_roundtrips_learn_folds(spark):
    # applying learn_bpe_merges' output via encode_vocab must reproduce
    # the learner's own internal word table after the same merges — the
    # train→deploy round-trip (r6 verdict task: corpus-scale encode).
    docs = _docs(spark, ["abab abab abab cd cd", "abab cd ab"])
    learned = learn_bpe_merges(spark, docs, n_merges=3).orderBy(
        "merge_rank"
    )
    merges = [(r["left_sym"], r["right_sym"]) for r in learned.collect()]
    # independent check: a plain-Python greedy fold over every word
    words = word_frequency_table(docs).select(
        "word", F.concat_ws(" ", F.split("word", "")).alias("syms")
    )
    expected = {}
    for row in words.collect():
        syms = row["syms"].split(" ")
        for l, r in merges:
            out, i = [], 0
            while i < len(syms):
                if (
                    out
                    and out[-1] == l
                    and syms[i] == r
                ):
                    out[-1] = l + r
                else:
                    out.append(syms[i])
                i += 1
            syms = out
        expected[row["word"]] = " ".join(syms)
    got = {
        r["word"]: r["syms"]
        for r in encode_vocab(
            docs.select(
                F.explode(F.split(F.lower("text"), r"\W+")).alias("word")
            )
            .filter(F.col("word") != "")
            .distinct(),
            merges,
        ).collect()
    }
    assert got == expected


def test_encode_corpus_counts_and_stream(spark):
    # one merge (a,b): 'abab ab' -> words 'abab'->'ab ab', 'ab'->'ab'
    docs = _docs(spark, ["abab ab", "xy"])
    out = {
        r["doc_id"]: r
        for r in encode_corpus(docs, [("a", "b")]).collect()
    }
    assert out[0]["n_words"] == 2
    assert out[0]["n_bpe_tokens"] == 3  # 'ab ab' + 'ab'
    assert out[1]["n_words"] == 1
    assert out[1]["n_bpe_tokens"] == 2  # 'x y' (no merge applies)
    # token ids: sorted symbol vocab over BOTH docs = [ab, x, y] -> 1,2,3
    assert out[0]["token_id_sum"] == 3  # ab+ab+ab = 1+1+1
    assert out[1]["token_id_sum"] == 5  # x+y = 2+3
    import hashlib

    assert out[0]["token_fp"] == hashlib.md5(b"ab ab ab").hexdigest()
    assert out[1]["token_fp"] == hashlib.md5(b"x y").hexdigest()


def test_encode_vocab_spells_every_corpus_word(spark):
    # lossless-encode invariant over the REAL corpus vocabulary: for
    # every distinct word, concatenating its symbols (spaces removed)
    # must reproduce the word exactly — merges regroup, never rewrite
    from vectorsearch_applications_spark.operators.bpe import (
        encode_vocab,
    )
    from vectorsearch_applications_spark.sources.io import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    merges = [
        (r["left_sym"], r["right_sym"])
        for r in learn_bpe_merges(spark, docs, n_merges=5)
        .orderBy("merge_rank")
        .collect()
    ]
    from vectorsearch_applications_spark.functions.text import tokenize

    vocab = (
        docs.select(F.explode(tokenize("text")).alias("word"))
        .distinct()
    )
    enc = encode_vocab(vocab, merges)
    bad = enc.filter(
        F.translate(F.col("syms"), " ", "") != F.col("word")
    ).count()
    assert bad == 0


def test_encode_corpus_empty_merge_list_is_char_tokens(spark):
    docs = _docs(spark, ["ab ba"])
    (row,) = encode_corpus(docs, []).collect()
    # chars only: 'a b' + 'b a' -> 4 symbols; ids a=1, b=2
    assert row["n_bpe_tokens"] == 4
    assert row["token_id_sum"] == 6


def test_encode_vocab_deep_chain_checkpointed(spark):
    # r8 (verdict task 5): a real-merge-count chain must survive. 256
    # merges UNCHECKPOINTED StackOverflow the JVM at task-closure
    # serialization (measured — and a lazy eager=False checkpoint does
    # NOT help: lineage is only truncated once materialized, so the
    # first action still serializes the full chain). The eager
    # per-segment checkpoint bounds every closure; the encoding must be
    # interval-invariant and equal to applying only the effective merges
    # (the padding pairs never occur in the vocab, so each is an
    # identity fold — depth without semantic change).
    vocab = spark.createDataFrame(
        [("abab",), ("aabb",), ("banana",), ("cab",)], "word string"
    )
    real = [("a", "b"), ("b", "a"), ("ab", "ab")]
    merges = real + [(f"x{i}", f"y{i}") for i in range(253)]
    assert len(merges) == 256
    deep64 = sorted(
        encode_vocab(vocab, merges, checkpoint_every=64).collect()
    )
    deep128 = sorted(
        encode_vocab(vocab, merges, checkpoint_every=128).collect()
    )
    shallow = sorted(encode_vocab(vocab, real).collect())
    assert deep64 == deep128 == shallow
    # lossless-encode invariant holds through the checkpointed chain
    assert all(r["syms"].replace(" ", "") == r["word"] for r in deep64)


def test_encode_vocab_checkpoint_matches_unchunked(spark):
    # at a depth the unchunked chain survives, checkpointing must be a
    # pure plan transformation: identical (word, syms) output
    vocab = spark.createDataFrame(
        [("abab",), ("banana",), ("cabbage",)], "word string"
    )
    merges = [("a", "b"), ("b", "a"), ("an", "an")] + [
        (f"p{i}", f"q{i}") for i in range(29)
    ]
    unchunked = sorted(
        encode_vocab(vocab, merges, checkpoint_every=0).collect()
    )
    chunked = sorted(
        encode_vocab(vocab, merges, checkpoint_every=8).collect()
    )
    assert unchunked == chunked


def test_learned_vocab_equals_encode_vocab(spark):
    # the (word, syms) map returned by learn_bpe_merges_with_vocab must
    # be exactly encode_vocab(distinct corpus words, learned merges):
    # learning applies merge i to words rewritten under merges 1..i-1,
    # the same chain encode_vocab replays, and translate(syms, ' ', '')
    # reconstructs the word key byte-for-byte
    from vectorsearch_applications_spark.operators.bpe import (
        learn_bpe_merges_with_vocab,
    )

    docs = _docs(
        spark,
        ["aa ab aa ba", "banana bandana", "cab cabbage abba", "aa aa"],
    )
    merges_df, enc_map = learn_bpe_merges_with_vocab(spark, docs, n_merges=4)
    merges = [
        (r["left_sym"], r["right_sym"])
        for r in merges_df.orderBy("merge_rank").collect()
    ]
    vocab = docs.select(
        F.explode(
            F.filter(
                F.split(F.lower("text"), r"\W+"), lambda x: x != ""
            )
        ).alias("word")
    ).distinct()
    want = sorted(encode_vocab(vocab, merges).collect())
    got = sorted(enc_map.collect())
    assert got == want


def test_encode_corpus_with_prebuilt_map_identical(spark):
    # encode_map is a pure reuse: same per-doc output, bitwise
    from vectorsearch_applications_spark.operators.bpe import (
        learn_bpe_merges_with_vocab,
    )

    docs = _docs(
        spark, ["aa ab aa", "banana band", "cab cabbage", "aa banana"]
    )
    merges_df, enc_map = learn_bpe_merges_with_vocab(spark, docs, n_merges=3)
    merges = [
        (r["left_sym"], r["right_sym"])
        for r in merges_df.orderBy("merge_rank").collect()
    ]
    base = sorted(map(repr, encode_corpus(docs, merges).collect()))
    reused = sorted(
        map(repr, encode_corpus(docs, merges, encode_map=enc_map).collect())
    )
    assert base == reused

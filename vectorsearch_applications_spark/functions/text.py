"""Text scalar functions (SURVEY.md §2.9) — all JVM-side built-ins.

Tokenization contract (FIXTURES.md determinism rules): ``lower`` + regexp
split on ``\\W+`` + drop empties. This is the documented token model for the
BM25 / dedup / text-analysis operators so a SQL oracle can reproduce TF/DF
exactly. (The reference's BM25 tokenizer lives server-side in Weaviate —
``src/database/weaviate_interface_v4.py:201-244`` only ships the query — so
the token model is ours to define; we pick the simplest portable one.)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .vectors import sql_ident

# Regexp used on BOTH engines (Spark `split`, DuckDB `regexp_split_to_array`).
# Kept as \W+ on purpose: the semantically-identical character class
# [^a-zA-Z0-9_]+ measured 3-5x SLOWER on split-heavy plans (r12 —
# quality_composite_rank 13 -> 61 s: StringSplit re-compiles its pattern
# per evaluation, so pattern SOURCE LENGTH is a per-row cost). Fragments
# embed it via sql_token_pattern_literal(), which escapes per the
# session's parser conf (r11 advice: '\\W+' only parses to \W+ while
# spark.sql.parser.escapedStringLiterals is false, the default).
TOKEN_PATTERN = r"\W+"


def sql_string_body(s: str) -> str:
    """``s`` as it must appear between the quotes of a SQL string
    literal for the ACTIVE session: backslashes doubled and quotes
    escaped under the default parser (backslash is an escape character
    there); under the legacy spark.sql.parser.escapedStringLiterals=true
    conf backslashes stay raw and a quote keeps its backslash (the
    literal then reads ``\\'``, which a regex matches as ``'``)."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    esc = (
        spark is not None
        and spark.conf.get("spark.sql.parser.escapedStringLiterals", "false")
        == "true"
    )
    if not esc:
        s = s.replace("\\", "\\\\")
    return s.replace("'", "\\'")


def sql_token_pattern_literal() -> str:
    """TOKEN_PATTERN as it must appear inside a SQL string literal."""
    return sql_string_body(TOKEN_PATTERN)


def tokenize_sql(text_sql: str) -> str:
    """lower → split on \\W+ → drop empty strings. Returns array<string>.

    Stays inside whole-stage codegen (no UDF): split + filter are
    Catalyst expressions."""
    return (
        f"filter(split(lower({text_sql}), "
        f"'{sql_token_pattern_literal()}'), x -> x != '')"
    )


def tokenize(col: str) -> Column:
    return F.expr(tokenize_sql(sql_ident(col)))


def token_count(col: str) -> Column:
    """Whitespace/punctuation token count (reference A6 ``get_token_count``,
    ``src/llm/llm_utils.py:6-28`` — tiktoken there; the portable token model
    here)."""
    return F.expr(f"size({tokenize_sql(sql_ident(col))})")


# GPT-2-style pretokenizer, simplified to the alternation both Java regex
# (Spark) and RE2 (DuckDB) evaluate identically leftmost-first: contraction
# tail | space?+letters | space?+digits | space?+other-punct run. Whitespace
# between matches is skipped by extract_all, so no \\s+ branch is needed.
BPE_PATTERN = r"'[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s']+"


def bpe_tokenize_sql(text_sql: str) -> str:
    """BPE-ish pretokenization (reference A6 counts tokens with tiktoken,
    ``src/llm/llm_utils.py:6-28``; this is the portable regex analog of its
    pretokenizer stage). lower → leftmost-first alternation scan. Returns
    array<string>; stays in codegen (regexp_extract_all is a Catalyst
    expression, no UDF)."""
    return (
        f"regexp_extract_all(lower({text_sql}), "
        f"'{sql_string_body(BPE_PATTERN)}', 0)"
    )


def bpe_tokenize(col: str) -> Column:
    return F.expr(bpe_tokenize_sql(sql_ident(col)))


def bpe_token_count(col: str) -> Column:
    """Token count under the BPE-ish pretokenizer — the LLM-billing-shaped
    counter (punctuation runs and contraction tails count as tokens, unlike
    ``token_count`` which drops them)."""
    return F.expr(f"size({bpe_tokenize_sql(sql_ident(col))})")


def stable_hash64(col: Column, seed: int | None = None) -> Column:
    """Engine-portable deterministic 32-bit-range hash as BIGINT.

    ``conv(substr(md5(x), 1, 8), 16, 10)`` — reproducible in DuckDB as
    ``('0x' || substr(md5(x), 1, 8))::BIGINT``. Used by MinHash/SimHash so
    the dedup operators are oracle-checkable. md5 is a Catalyst built-in →
    still codegen, no Python.
    """
    if seed is not None:
        col = F.concat(col, F.lit(f"#{seed}"))
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")

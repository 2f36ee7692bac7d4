"""Embedding UDFs (SURVEY.md F2/Q2 query-side embedding).

Two implementations behind one interface:

- ``hash_embed_col`` — the deterministic default (FIXTURES.md determinism
  rules): token-hash-based unit-norm vector, pure Catalyst expressions, so
  retrieval tests reproduce bit-for-bit with no model weights and the DuckDB
  oracle can recompute it.

- ``model_embed_factory`` — the production path: a ``mapInPandas`` /
  ``pandas_udf`` with a per-executor SentenceTransformer singleton (the
  reference's ``all-MiniLM-L6-v2``, ``weaviate_interface_v4.py:47,66``).
  The model library is not in this container, so it is gated behind an
  import-try; the *plumbing* (Arrow batching, singleton caching, schema) is
  real and tested with a fake encoder.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import Column
from pyspark.sql import functions as F

from .text import tokenize, tokenize_sql
from .vectors import sql_alias, sql_ident


# One per-token contribution to dimension d: one byte of md5(token),
# centered and scaled — ((hex byte d of md5) − 127.5)/128. One md5 per
# token serves all 16 dims (2 hex chars each), engine-portable (DuckDB:
# ('0x' || substr(md5(t), 2d+1, 2))::BIGINT). The raw array is
# **let-bound** via a 1-element ``transform`` lambda so it is evaluated
# once per row — inlining it naively into every normalized element
# copies the whole raw tree per element (17× the hash work; this exact
# mistake made embedding 1000 docs take minutes).
_HASH_EMBED_SQL = r"""element_at(
  transform(
    array(
      transform(sequence(0, {dm1}), d ->
        aggregate(
          {toks},
          0.0D,
          (acc, tk) -> acc +
            ((cast(conv(substr(md5(tk), d * 2 + 1, 2), 16, 10)
                   as double) - 127.5D) / 128.0D)
        )
      )
    ),
    r -> CASE
      WHEN sqrt(aggregate(transform(r, x -> x * x), 0.0D,
                          (acc, x) -> acc + x)) = 0 THEN r
      ELSE transform(r, x -> x / sqrt(aggregate(transform(r, y -> y * y),
                                                0.0D, (acc, y) -> acc + y)))
    END
  ),
1)"""


def hash_embed_col(text: str, dim: int = 16) -> Column:
    """Deterministic unit-norm embedding of a text column (dim ≤ 16).

    dim_d(text) = Σ_tokens ((byte d of md5(token)) − 127.5)/128, then
    L2-normalized. Zero-token texts embed to the zero vector. The whole
    expression parses JVM-side from ``_HASH_EMBED_SQL`` in one py4j
    round trip."""
    assert dim <= 16, "one md5 yields 16 byte-dims"
    return F.expr(
        _HASH_EMBED_SQL.format(dm1=dim - 1, toks=tokenize_sql(sql_ident(text)))
    )


def hash_embed_ids(
    df,
    id_col: str,
    text_col: str,
    dim: int = 16,
    out_col: str = "embedding",
):
    """(id, embedding) for every document with ≥1 token — the narrow
    corpus-embedding path.

    Same math as ``hash_embed_df`` but WITHOUT the final join back onto
    the input frame: callers that only need the id→vector map (kNN
    indexing, semantic search) skip a corpus-wide join that way — at
    100 TB that rejoin is a full-corpus shuffle bought for columns the
    caller immediately drops. Zero-token docs yield no row (they have no
    exploded tokens); ``hash_embed_df`` is the all-rows/all-columns form.

    Plan shape: hash per token occurrence inside ONE codegen'd project
    (whole-stage subexpression elimination shares the md5 across the 16
    byte-dims), then a single map-side-combined aggregation on the doc
    id — token rows of a doc are co-located with their doc, so partial
    aggregation collapses them before the shuffle. This replaced a
    distinct-vocabulary + join formulation (hash once per DISTINCT
    token): measured 40% slower at sf0.1 because the extra distinct
    shuffle and join cost more than re-hashing occurrences, and the
    vocab table is the one piece whose size an adversarial corpus
    controls. Sums are exact (contributions are dyadic rationals k/256),
    so the regrouping is bit-identical, not just approximately equal.
    """
    assert dim <= 16, "one md5 yields 16 byte-dims"
    toks = df.select(
        F.col(id_col).alias("_eid"), F.explode(tokenize(text_col)).alias("_t")
    )
    # The per-dimension contribution / sum / normalize expressions parse
    # JVM-side as SQL strings (~350 tree nodes otherwise, 566 ms → ~20 ms
    # per construction); the norm chain is a left fold seeded 0.0D —
    # pinned by
    # test_operators.py::test_hash_embed_ids_sql_construction_bitwise_equal.
    contrib = (
        "((cast(conv(substring(md5(_t), {start}, 2), 16, 10) as double)"
        " - 127.5D) / 128.0D) AS _v{d}"
    )
    per_tok = toks.selectExpr(
        "_eid", *[contrib.format(start=2 * d + 1, d=d) for d in range(dim)]
    )
    sums = per_tok.groupBy("_eid").agg(
        *[F.expr(f"sum(_v{d}) AS _s{d}") for d in range(dim)]
    )
    raw = "array({})".format(", ".join(f"_s{d}" for d in range(dim)))
    norm = "sqrt({})".format(
        " + ".join(["0.0D"] + [f"_s{d} * _s{d}" for d in range(dim)])
    )
    return sums.selectExpr(
        f"_eid AS {sql_alias(id_col)}",
        f"CASE WHEN {norm} = 0 THEN {raw} "
        f"ELSE transform({raw}, x -> x / {norm}) END AS {sql_alias(out_col)}",
    )


def hash_embed_df(
    df,
    id_col: str,
    text_col: str,
    dim: int = 16,
    out_col: str = "embedding",
):
    """DataFrame-level hash embedding — same result as ``hash_embed_col``
    (up to float summation order), built for corpora.

    Embedding a corpus costs one explode + one codegen'd hashing project
    (md5 shared across the dims by subexpression elimination) + one
    map-side-combined aggregation — see ``hash_embed_ids`` for why this
    beats a distinct-vocabulary + join formulation.

    Keeps every input row and column (zero-token docs get the zero
    vector) via a join against ``hash_embed_ids`` — use that narrow form
    directly when only (id, embedding) is needed.

    ``hash_embed_col`` (expression form) stays for single-row/driver-side
    uses; its higher-order functions are interpreted (CodegenFallback) and
    cost ~ms per row — fine for query strings, wrong for corpora.
    """
    embedded = hash_embed_ids(df, id_col, text_col, dim, out_col).select(
        F.col(id_col).alias("_eid"), F.col(out_col)
    )
    return df.join(
        embedded, df[id_col] == embedded["_eid"], "left"
    ).select(
        *[df[c] for c in df.columns],
        F.coalesce(
            F.col(out_col), F.array_repeat(F.lit(0.0), dim)
        ).alias(out_col),
    )


_MODEL_CACHE: dict[str, object] = {}


def _get_model(name: str):
    """Per-executor model singleton (load-once; the reference caches with
    st.cache_resource, ``src/app_functions.py:15-39``)."""
    if name not in _MODEL_CACHE:
        try:
            from sentence_transformers import SentenceTransformer  # type: ignore
        except ImportError as e:  # pragma: no cover - model lib absent in CI
            raise NotImplementedError(
                "sentence-transformers not installed; use hash_embed_col or "
                "pass a custom encode_fn"
            ) from e
        _MODEL_CACHE[name] = SentenceTransformer(name)
    return _MODEL_CACHE[name]


def model_embed_factory(
    model_name: str = "sentence-transformers/all-MiniLM-L6-v2",
    dim: int = 384,
    encode_fn: Callable[[list[str]], "list[list[float]]"] | None = None,
):
    """Build a mapInPandas function embedding a ``text`` column → adds
    ``embedding array<float>``. ``encode_fn`` injects a custom/fake encoder
    (tests); default loads the SentenceTransformer singleton per executor.
    """
    import pandas as pd

    def embed_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        fn = encode_fn
        if fn is None:
            model = _get_model(model_name)
            fn = lambda texts: model.encode(texts, normalize_embeddings=True).tolist()  # noqa: E731
        for pdf in batches:
            out = pdf.copy()
            out["embedding"] = fn(pdf["text"].tolist())
            yield out

    return embed_batches

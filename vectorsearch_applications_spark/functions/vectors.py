"""Vector math over plain ``array<float|double>`` columns — no UDFs.

Spark has no vector type for DataFrames; a float array is the right
shuffle-friendly representation (SURVEY.md §1.1). Dot / cosine are
higher-order-function expressions (``zip_with`` + ``aggregate``) that run
JVM-side inside codegen — at 100 TB this keeps the kNN scoring scan in the
JVM instead of round-tripping to Python.

Reference semantics: embeddings are unit-norm MiniLM vectors, so cosine
similarity == dot product and Weaviate's ``distance`` = 1 − cos
(``src/database/weaviate_interface_v4.py:246-287``, SURVEY Q2).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sql_alias(name: str) -> str:
    """``name`` as ONE backtick-quoted SQL identifier (embedded backticks
    doubled, r11 advice) — for output names (``... AS <alias>``), which
    like ``Column.alias`` take the name literally, dots included."""
    return f"`{name.replace('`', '``')}`"


def _name_parts(name: str) -> list[str] | None:
    """The parts ``F.col(name)`` binds (Spark's ``parseAttributeName``):
    dots separate parts; a backticked part is literal, with a doubled
    backtick standing for one. None for a name ``F.col`` rejects."""
    parts: list[str] = []
    tmp: list[str] = []
    in_tick = False
    i = 0
    while i < len(name):
        ch = name[i]
        if in_tick:
            if ch != "`":
                tmp.append(ch)
            elif name[i + 1 : i + 2] == "`":
                tmp.append("`")
                i += 1
            else:
                in_tick = False
                if name[i + 1 : i + 2] not in ("", "."):
                    return None
        elif ch == "`":
            if tmp:
                return None
            in_tick = True
        elif ch == ".":
            if i == 0 or name[i - 1] == "." or i == len(name) - 1:
                return None
            parts.append("".join(tmp))
            tmp = []
        else:
            tmp.append(ch)
        i += 1
    if in_tick:
        return None
    parts.append("".join(tmp))
    return parts


def sql_ident(name: str) -> str:
    """A column name as a SQL operand: each part of a dotted name
    backtick-quoted, so ``"meta.emb"`` binds the nested field ``emb`` of
    struct ``meta`` and ``"`a.b`"`` the top-level column ``a.b``,
    exactly as ``F.col`` resolves them. A name ``F.col`` would reject
    (e.g. a stray backtick, ``"t`x"``) is quoted whole, as one literal
    name. Anything but a str (e.g. a Column) raises TypeError: the
    expression builders take column names only."""
    if not isinstance(name, str):
        raise TypeError(
            f"expected a column name (str), got {type(name).__name__}"
        )
    parts = _name_parts(name)
    if parts is None:
        return sql_alias(name)
    return ".".join(sql_alias(p) for p in parts)


def isin_ints(col_name: str, values) -> Column:
    """``col IN (<values>)`` parsed as ONE SQL expression when every
    value is a plain Python int (bool excluded) — ``Column.isin(list)``
    converts the literal list element-by-element over py4j (~4 round
    trips per value: a 500-id candidate re-entry measured 2,029 round
    trips ≈ 0.4 s of pure construction chatter on this host), while the
    parsed form is one round trip (guide §7.3 planning cost). Catalyst
    builds the same In(col, literals) predicate either way (integer
    literals coerce to the column's integral type in both paths), so
    results are bitwise identical — pinned by the oracle preflight on
    every consumer. Empty values short-circuit to lit(False); any
    non-int value falls back to Column.isin (strings would need
    escaping, float repr can drift)."""
    vals = list(values)
    if not vals:
        return F.lit(False)
    if all(type(v) is int for v in vals):
        return F.expr(f"{sql_ident(col_name)} IN ({','.join(map(str, vals))})")
    return F.col(col_name).isin(vals)


# Every vector expression below is built ONE way: as a Spark SQL
# fragment over SQL operands (a quoted column name from sql_ident, a
# struct field such as ``c.centroid``, a lambda variable or a nested
# fragment). Callers embed fragments in one F.expr / selectExpr string,
# so a whole scoring expression parses JVM-side in a single py4j round
# trip. The Column-returning entry points take column NAMES only.


def cast_double_sql(arr: str) -> str:
    """``arr`` with every element cast to double."""
    return f"transform({arr}, x -> cast(x as double))"


def dot_double_sql(a: str, b: str) -> str:
    """Σ a_i·b_i for arrays ALREADY cast to double: a zip_with product
    left-folded from 0.0D (matches the DuckDB oracle's list_dot_product
    to ~1e-12). Skipping the per-evaluation element casts matters in a
    pair join, where they would re-run per PAIR: projecting the cast
    once per ROW and folding raw measured 2.24 s → 1.37 s on the
    semantic-dedup pair join at sf0.1 (same-session A/B)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "0.0D, (acc, x) -> acc + x)"
    )


def dot_sql(a: str, b: str) -> str:
    """Σ a_i·b_i in double precision over arrays of any numeric type."""
    return dot_double_sql(cast_double_sql(a), cast_double_sql(b))


def cosine_similarity_sql(a: str, b: str, assume_normalized: bool = True) -> str:
    if assume_normalized:
        return dot_sql(a, b)
    return f"{dot_sql(a, b)} / (sqrt({dot_sql(a, a)}) * sqrt({dot_sql(b, b)}))"


def l2_normalize_sql(arr: str) -> str:
    """``arr`` cast to double and divided by its L2 norm."""
    d = cast_double_sql(arr)
    return (
        f"transform({d}, v -> v / sqrt(aggregate(transform({d}, y -> y * y), "
        "0.0D, (acc, y) -> acc + y)))"
    )


def dot(a: str, b: str) -> Column:
    """Σ a_i·b_i of two array columns, in double precision."""
    return F.expr(dot_sql(sql_ident(a), sql_ident(b)))


def cosine_similarity(a: str, b: str, assume_normalized: bool = True) -> Column:
    return F.expr(cosine_similarity_sql(sql_ident(a), sql_ident(b), assume_normalized))


def cosine_distance(a: str, b: str, assume_normalized: bool = True) -> Column:
    """Weaviate-style distance = 1 − cosine (lower is better; the notebooks
    flip it back with ``1 - distance``, nb4 cell 19)."""
    sim = cosine_similarity_sql(sql_ident(a), sql_ident(b), assume_normalized)
    return F.expr(f"1.0D - ({sim})")


def l2_normalize(arr: str) -> Column:
    """Unit-normalize once at index-build time so query-time cosine is a
    plain dot product (cheapest possible inner loop at scale)."""
    return F.expr(l2_normalize_sql(sql_ident(arr)))

"""One expression dialect: every vector/text expression builder takes
column NAMES and parses one SQL fragment — no function accepts
``Column | str`` or picks a builder by the type of its input, and a
Column handed to a name-only builder raises."""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql import functions as F

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "vectorsearch_applications_spark",
)

# (package-relative path, function): the literal-frame builder takes its
# schema as a DDL string, a StructType or a list of names.
EXEMPT = {(os.path.join("sources", "io.py"), "one_slice_df")}

_DIALECT_TYPES = {"Column", "str"}


def _type_names(node) -> set[str]:
    """Names of the types an annotation or isinstance() argument spells."""
    if node is None:
        return set()
    if isinstance(node, ast.Name):
        return {node.id}
    if isinstance(node, ast.Attribute):
        return {node.attr}
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        try:
            return _type_names(ast.parse(node.value, mode="eval").body)
        except SyntaxError:
            return set()
    if isinstance(node, ast.BinOp) and isinstance(node.op, ast.BitOr):
        return _type_names(node.left) | _type_names(node.right)
    if isinstance(node, ast.Tuple):
        return set().union(*(_type_names(e) for e in node.elts))
    if isinstance(node, ast.Subscript):  # Union[...] / Optional[...]
        return _type_names(node.slice)
    return set()


def _raise_only_guards(func) -> set[int]:
    """ids of isinstance() calls that only guard a raise (rejecting a
    wrong type is not picking a builder)."""
    allowed: set[int] = set()
    for node in ast.walk(func):
        if (
            isinstance(node, ast.If)
            and not node.orelse
            and all(isinstance(s, ast.Raise) for s in node.body)
        ):
            allowed |= {id(n) for n in ast.walk(node.test)}
    return allowed


def dialect_offenders(source: str) -> list[str]:
    """``<function>:<line>`` for every parameter annotated with a union
    of Column and str, and every isinstance(<parameter>, str|Column)
    test that does more than guard a raise."""
    out = []
    for func in ast.walk(ast.parse(source)):
        if not isinstance(func, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        a = func.args
        params = a.posonlyargs + a.args + a.kwonlyargs
        for p in params:
            if _DIALECT_TYPES <= _type_names(p.annotation):
                out.append(f"{func.name}:{p.lineno}")
        names = {p.arg for p in params}
        allowed = _raise_only_guards(func)
        for node in ast.walk(func):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "isinstance"
                and len(node.args) == 2
                and isinstance(node.args[0], ast.Name)
                and node.args[0].id in names
                and _type_names(node.args[1]) & _DIALECT_TYPES
                and id(node) not in allowed
            ):
                out.append(f"{func.name}:{node.lineno}")
    return sorted(set(out))


def test_dialect_guard_flags_both_shapes():
    src = (
        "def a(x: Column | str): pass\n"
        "def b(x: 'str | Column'): pass\n"
        "def c(x: Union[str, Column]): pass\n"
        "def d(x):\n"
        "    return F.col(x) if isinstance(x, str) else x\n"
        "def e(x):\n"
        "    if isinstance(x, (Column, int)):\n"
        "        return x\n"
        "def ok(x: str):\n"
        "    if not isinstance(x, str):\n"
        "        raise TypeError(x)\n"
        "    return x\n"
    )
    assert dialect_offenders(src) == ["a:1", "b:2", "c:3", "d:5", "e:7"]


def test_package_builds_each_expression_one_way():
    offenders = []
    for dp, _, fs in os.walk(PKG):
        for f in fs:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dp, f)
            rel = os.path.relpath(path, PKG)
            with open(path) as fh:
                hits = dialect_offenders(fh.read())
            offenders += [
                f"{rel}:{h}"
                for h in hits
                if (rel, h.split(":")[0]) not in EXEMPT
            ]
    assert offenders == []


def test_column_input_to_a_name_only_builder_raises(spark):
    from vectorsearch_applications_spark.functions.embed import hash_embed_col
    from vectorsearch_applications_spark.functions.text import tokenize
    from vectorsearch_applications_spark.operators.dedup import shingles
    from vectorsearch_applications_spark.operators.lsh import (
        lsh_bucket,
        lsh_planes,
    )
    from vectorsearch_applications_spark.sources.collections import (
        zorder_value,
    )

    planes = lsh_planes(n_planes=2, dim=2)
    for build in (
        lambda: tokenize(F.col("t")),
        lambda: lsh_bucket(F.col("v"), planes),
        lambda: shingles(F.col("t")),
        lambda: hash_embed_col(F.col("t")),
        lambda: zorder_value("x", F.col("y")),
    ):
        with pytest.raises(TypeError, match="column name"):
            build()

"""The one generation commit (sources/collections.py
``_commit_generation``): every collection write stages, flags the
collection's persisted indexes, then swaps — whether it comes through
the facade or a module function — and no other module renames a
generation into place."""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql import functions as F

from vectorsearch_applications_spark.client import SparkSearchClient
from vectorsearch_applications_spark.sources import collections as coll
from vectorsearch_applications_spark.sources.index_catalog import stale_meta
from vectorsearch_applications_spark.sources.io import load_table

from .conftest import SF_SMOKE

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "vectorsearch_applications_spark",
)


def _docs(spark, n: int):
    return load_table(spark, SF_SMOKE, "documents").filter(F.col("doc_id") < n)


def test_failed_create_keeps_the_previous_generation(spark, tmp_path):
    """A create over an existing collection whose write fails leaves the
    previous generation readable, not an empty directory."""
    root = str(tmp_path)
    docs = _docs(spark, 50)
    coll.create_collection(spark, root, "docs", docs)
    n = docs.count()
    poisoned = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == 7, F.raise_error(F.lit("bad row"))).otherwise(
            F.col("text")
        ),
    )
    with pytest.raises(Exception, match="bad row"):
        coll.create_collection(spark, root, "docs", poisoned)
    assert spark.read.parquet(os.path.join(root, "docs")).count() == n
    assert coll.recover_collection(root, "docs") in ("clean", "discarded_staging")
    assert SparkSearchClient(spark, root).get_doc_count("docs") == n


def _keyword(c, query: str, **kw) -> list[tuple]:
    return sorted(
        (r["doc_id"], r["rank"])
        for r in c.keyword_search("docs", query, limit=10, **kw).collect()
    )


def test_module_writes_flag_persisted_indexes(spark, tmp_path):
    """update_collection and merge_collection called as module functions
    flag the text and IVF indexes, so facade searches return the
    in-plan truth instead of the pre-write index."""
    c = SparkSearchClient(spark, str(tmp_path))
    c.create_collection("docs", _docs(spark, 300))
    n = c.get_doc_count("docs")

    def build():
        c.build_text_index("docs")
        c.build_ann_index("docs", kind="ivf")
        assert c._fresh_index("docs", "bm25") and c._fresh_index("docs", "ivf")

    build()
    coll.update_collection(
        spark, str(tmp_path), "docs",
        lambda df: df.withColumn(
            "text",
            F.when(
                F.col("doc_id") == 7, F.concat("text", F.lit(" zzqmarker"))
            ).otherwise(F.col("text")),
        ),
    )
    # a filter scores in-plan on the live corpus: the truth
    assert _keyword(c, "zzqmarker") == _keyword(
        c, "zzqmarker", filters=F.lit(True)
    ) == [(7, 1)]
    for suffix in ("bm25", "ivf"):
        assert stale_meta(c.root, "docs", suffix) == {"verb": "update"}

    build()
    text = "zzqnewdoc spark join order"
    row = c._load("docs").filter(F.col("doc_id") == 7)
    changes = row.select(
        F.lit(900_000).cast(row.schema["doc_id"].dataType).alias("doc_id"),
        F.lit(text).alias("text"),
        *[col for col in row.columns if col not in ("doc_id", "text")],
        F.lit("upsert").alias("op"),
        F.lit(1).cast("long").alias("seq"),
    ).unionByName(
        row.withColumn("op", F.lit("delete")).withColumn(
            "seq", F.lit(1).cast("long")
        )
    )
    assert coll.merge_collection(spark, str(tmp_path), "docs", changes) == {
        "upserted": 1, "deleted": 1, "rows": n,
    }
    # the query embeds to the new doc's own vector: distance 0, rank 1
    top = c.vector_search("docs", text, limit=3, backend="ivf").collect()
    assert (top[0]["doc_id"], top[0]["rank"]) == (900_000, 1)
    assert top[0]["distance"] == pytest.approx(0.0, abs=1e-9)
    assert 7 not in {r["doc_id"] for r in top}
    assert _keyword(c, "zzqnewdoc") == _keyword(
        c, "zzqnewdoc", filters=F.lit(True)
    ) == [(900_000, 1)]
    assert _keyword(c, "zzqmarker") == []
    for suffix in ("bm25", "ivf"):
        assert stale_meta(c.root, "docs", suffix) == {"verb": "merge"}


def _crash_between_move_aside_and_promotion(spark, root: str, name: str):
    path = os.path.join(root, name)
    _docs(spark, 20).write.parquet(path + "__staging")
    os.rename(path, path + "__old")


def test_facade_recover_flags_only_when_the_live_generation_changes(
    spark, tmp_path
):
    """recover flags ``recover`` exactly when it promotes or restores a
    generation; a clean recovery leaves every marker as it was."""
    c = SparkSearchClient(spark, str(tmp_path))
    docs = _docs(spark, 100)
    c.create_collection("docs", docs)
    c.build_text_index("docs")
    assert c.recover("docs") == "clean"
    assert stale_meta(c.root, "docs", "bm25") is None

    c.batch_index_data("docs", docs, not_null_cols=["doc_id", "text"])
    marker = os.path.join(c.root, "docs__bm25", "_stale.json")
    with open(marker, "rb") as f:
        before = f.read()
    assert c.recover("docs") == "clean"
    with open(marker, "rb") as f:
        assert f.read() == before
    assert stale_meta(c.root, "docs", "bm25") == {"verb": "batch_index_data"}

    c.build_text_index("docs")
    _crash_between_move_aside_and_promotion(spark, c.root, "docs")
    assert c.recover("docs") == "promoted_staging"
    assert stale_meta(c.root, "docs", "bm25") == {"verb": "recover"}
    with pytest.raises(ValueError, match="stale after recover"):
        c.append_to_text_index("docs", docs.limit(1))


def _swap_offenders(source: str, filename: str) -> list[str]:
    """``os.rename``/``os.replace`` calls and ``__staging`` strings."""
    lines = []
    for node in ast.walk(ast.parse(source, filename)):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("rename", "replace")
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "os"
        ) or (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and "__staging" in node.value
        ):
            lines.append(node.lineno)
    return [f"{filename}:{n}" for n in sorted(lines)]


def test_swap_guard_flags_both_shapes():
    src = (
        "import os\n"
        "tmp = path + '__staging'\n"
        "os.rename(tmp, path)\n"
        "fine = path.replace('a', 'b')\n"
    )
    assert _swap_offenders(src, "m.py") == ["m.py:2", "m.py:3"]
    assert _swap_offenders("x = f'{p}__staging'\n", "f.py") == ["f.py:1"]


def test_generations_are_swapped_only_in_sources_collections():
    """Only sources/collections.py renames a generation into place or
    names its staging directory; every other writer calls its commit."""
    offenders = []
    for dp, _, fs in os.walk(PKG):
        for f in fs:
            path = os.path.join(dp, f)
            if not f.endswith(".py") or path == os.path.join(
                PKG, "sources", "collections.py"
            ):
                continue
            with open(path) as fh:
                offenders += _swap_offenders(fh.read(), os.path.relpath(path, PKG))
    assert offenders == []

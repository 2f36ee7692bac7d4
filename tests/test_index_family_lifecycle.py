"""One lifecycle for every persisted index family: each of the seven
families in sources/index_catalog.FAMILIES is driven through the client
facade build → append → delete → compact, and compaction must be
invisible to readers — the main table holds exactly the surviving ids,
the tombstone debt is gone, a search (or dedup screen) returns the same
rows as before it, and the staleness protocol still holds afterwards."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from vectorsearch_applications_spark.client import SparkSearchClient
from vectorsearch_applications_spark.sources.index_catalog import (
    FAMILIES,
    index_dir,
    stale_meta,
)
from vectorsearch_applications_spark.sources.io import load_table

from .conftest import SF_SMOKE

_QUERY = "spark join order window"


def _verb(c, fam, op, *args):
    """Call the facade's ``op`` verb for the family's verb set."""
    name = {
        "build": "build_{}_index",
        "append": "append_to_{}_index",
        "delete": "delete_from_{}_index",
        "compact": "compact_{}_index",
    }[op].format(fam.verbs)
    kw = {} if fam.verbs == "text" else {"kind": fam.kind}
    return getattr(c, name)(*args, **kw)


@pytest.mark.parametrize("suffix", sorted(FAMILIES))
def test_build_append_delete_compact(spark, tmp_path, suffix):
    fam = FAMILIES[suffix]
    c = SparkSearchClient(spark, str(tmp_path))
    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .filter(F.col("doc_id") < 120)
        .select("doc_id", "text")
    )
    standing = docs.filter(F.col("doc_id") < 80)
    batch = docs.filter(F.col("doc_id") >= 80)
    deleted = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    survivors = {
        r["doc_id"] for r in docs.join(deleted, "doc_id", "left_anti").collect()
    }
    # dedup screens run on exact copies of surviving docs, so the
    # evidence compared across the compaction is never empty
    probe = docs.filter(F.col("doc_id").isin(1, 2, 90)).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )

    c.create_collection("docs", standing)
    _verb(c, fam, "build", "docs")
    c.batch_index_data("docs", batch, ["doc_id"])
    _verb(c, fam, "append", "docs", batch)
    assert _verb(c, fam, "delete", "docs", deleted) == deleted.count()

    def read():
        if fam.verbs == "text":
            hits = c.keyword_search("docs", _QUERY, limit=10)
        elif fam.verbs == "ann":
            hits = c.vector_search("docs", _QUERY, limit=10, backend=fam.kind)
        else:
            # the facade's screen is an append: screen the probe, then
            # tombstone it again so compaction sees the same live set
            hits = _verb(c, fam, "append", "docs", probe)
            _verb(c, fam, "delete", "docs", probe.select("doc_id"))
        return sorted(
            tuple(round(v, 9) if isinstance(v, float) else v for v in r)
            for r in hits.collect()
        )

    before = read()
    assert before
    _verb(c, fam, "compact", "docs")

    base = index_dir(c.root, "docs", suffix)
    table = spark.read.parquet(os.path.join(base, fam.table))
    assert {r[0] for r in table.select(fam.id_col).distinct().collect()} == (
        survivors
    )
    assert spark.read.parquet(os.path.join(base, "tombstones")).count() == 0
    assert read() == before

    # a MERGE flags the index stale; neither an append nor a compaction
    # clears the flag — only a rebuild does
    change = docs.filter(F.col("doc_id") == 1).select(
        "doc_id", "text", F.lit("delete").alias("op"), F.lit(1).alias("seq")
    )
    c.merge("docs", change)
    assert stale_meta(c.root, "docs", suffix) == {"verb": "merge"}
    with pytest.raises(ValueError, match="an append cannot repair it"):
        _verb(c, fam, "append", "docs", probe)
    _verb(c, fam, "compact", "docs")
    assert stale_meta(c.root, "docs", suffix) is not None
    _verb(c, fam, "build", "docs")
    assert stale_meta(c.root, "docs", suffix) is None

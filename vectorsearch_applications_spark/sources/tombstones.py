"""Tombstone-based deletes for the persisted index families (BM25
postings, IVF assignments, MinHash/SimHash band tables) — the missing
third verb of the index lifecycle after build and append.

Why tombstones and not in-place rewrites: a doc's band rows span EVERY
band partition and a doc's postings span every term it contains, so a
physical delete touches the whole table — at 100 TB that is a full
rewrite per delete batch. Instead deletes append ids to a tiny
``<base>/tombstones`` parquet, reads apply one ``left_anti`` join (the
tombstone side is small → broadcast), and a periodic
:func:`compact_table` folds the tombstones into a physical rewrite and
clears them — the same amortization story as small-file compaction in
sources/collections.py.

Reference analog: the collection's own delete/update surface
(src/database/weaviate_interface_v4.py delete_collection + the point
update flow, notebooks/7-ExpandedContent cell 22) — the reference's
server maintains its inverted/HNSW indexes under those mutations; these
helpers are that contract for this engine's persisted index tables.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .io import read_parquet

TOMBSTONES = "tombstones"


def _tomb_path(base: str) -> str:
    return os.path.join(base, TOMBSTONES)


def load_tombstones(spark, base: str, id_col: str) -> DataFrame | None:
    """The tombstoned id set, or None when nothing was ever deleted.

    ONLY a missing ``<base>/tombstones`` maps to None, checked on the
    driver (local/shared FS assumed, as read_meta_row does) so a
    never-deleted index pays no failed Spark read per search. Any read
    failure of a present directory (transient FS error, corrupted or
    foreign files) must raise — swallowing it would silently resurrect
    every deleted row in the live views, and a compaction run under the
    same condition would rewrite the table WITH the tombstoned rows,
    permanently undeleting them. (A truncated tombstone table —
    compact_table's empty overwrite — reads back as a schema'd empty
    frame, not an error.)
    """
    path = _tomb_path(base)
    if not os.path.exists(path):
        return None
    return read_parquet(spark, path).select(id_col).distinct()


def tombstone_append(
    spark, base: str, ids: DataFrame, id_col: str, pre_deduped: bool = False
) -> int:
    """Record ids as deleted; returns how many NEW ids were recorded.

    Idempotent under replay: ids already tombstoned are dropped before
    the append, so an at-least-once delete feed cannot grow the
    tombstone table unboundedly (and callers adjusting derived stats —
    bm25_index_delete — can trust the returned frame counts each id
    once). The new-id frame is materialized eagerly BEFORE the append
    (the anti-join reads the same directory being appended to).

    ``pre_deduped=True`` skips the distinct + anti-join + checkpoint: a
    caller that already derived the genuinely-new id set that way
    (bm25_index_delete needs it first for its stats corrections) must
    pass an eagerly-materialized frame, or the append would re-read the
    directory it writes.
    """
    if pre_deduped:
        new = ids.select(F.col(id_col))
    else:
        new = ids.select(F.col(id_col)).distinct()
        existing = load_tombstones(spark, base, id_col)
        if existing is not None:
            new = new.join(existing, id_col, "left_anti")
        new = new.localCheckpoint(eager=True)
    n = new.count()
    if n:
        new.write.mode("append").parquet(_tomb_path(base))
    return n


def tombstone_clear(spark, base: str, ids: DataFrame, id_col: str) -> int:
    """UNDELETE ids (rewrite the tiny tombstone table minus them): the
    recovery verb for a mistaken delete — before compaction the rows
    are still physically present, so clearing the tombstone restores
    them instantly with no re-ingest. NOT used by the append paths:
    re-ingesting new content for a tombstoned id must go through
    :func:`compact_if_reviving` instead, or the stale rows would
    resurrect next to the re-appended ones. Returns remaining tombstone
    count."""
    tombs = load_tombstones(spark, base, id_col)
    if tombs is None:
        return 0
    keep = tombs.join(
        ids.select(id_col).distinct(), id_col, "left_anti"
    ).localCheckpoint(eager=True)
    n = keep.count()
    keep.write.mode("overwrite").parquet(_tomb_path(base))
    return n


def apply_tombstones(
    spark, base: str, table: DataFrame, id_col: str
) -> DataFrame:
    """The LIVE view of an index table: rows minus tombstoned ids. The
    tombstone side is broadcast (it is bounded by the delete volume
    between compactions, not by corpus size)."""
    tombs = load_tombstones(spark, base, id_col)
    if tombs is None:
        return table
    return table.join(F.broadcast(tombs), id_col, "left_anti")


def compact_table(
    spark,
    base: str,
    table_name: str,
    id_col: str,
    partition_col: str | None = None,
) -> int:
    """Fold tombstones into a physical rewrite of ``<base>/<table_name>``
    and clear them; returns the number of LIVE rows kept. The rewrite
    keeps ``partition_col`` as its directory partition when the table
    carries that column (a layout without it rewrites unpartitioned).

    The live rows are eagerly localCheckpointed before the overwrite
    (the rewrite reads the directory it replaces); the tombstone table
    is then truncated by an empty overwrite so subsequent reads skip the
    anti-join entirely. Run this on the maintenance cadence, exactly
    like small-file compaction.
    """
    path = os.path.join(base, table_name)
    table = spark.read.parquet(path)
    live = apply_tombstones(spark, base, table, id_col).localCheckpoint(
        eager=True
    )
    n = live.count()
    writer = live.write.mode("overwrite")
    if partition_col in table.columns:
        writer = writer.partitionBy(partition_col)
    writer.parquet(path)
    tombs = load_tombstones(spark, base, id_col)
    if tombs is not None:
        tombs.limit(0).write.mode("overwrite").parquet(_tomb_path(base))
    return n


def compact_if_reviving(
    spark,
    base: str,
    table_name: str,
    ids: DataFrame,
    id_col: str,
    partition_col: str | None = None,
) -> bool:
    """Guard for the append paths: if any arriving id is currently
    TOMBSTONED, physically compact the table first and report True.

    Why: clearing a revived id's tombstone (tombstone_clear) would also
    resurrect its OLD physical rows — the live view's anti-join can't
    tell the stale rows from the re-appended ones, so a ranked search
    would emit the doc twice (and, for changed content, once with STALE
    data). Screens that DISTINCT their pairs tolerate the duplicates;
    ranked top-k families (BM25/IVF/PQ/LSH) do not, so every append
    path takes this guard uniformly. The compaction pays the physical
    rewrite ONLY on the rare delete-then-re-ingest path; the common
    append stays O(|batch|). At 100 TB, schedule compactions after
    large delete batches so revives never trigger one inline.
    """
    tombs = load_tombstones(spark, base, id_col)
    if tombs is None:
        return False
    reviving = (
        ids.select(F.col(id_col)).distinct().join(tombs, id_col).limit(1)
    )
    if not reviving.count():
        return False
    compact_table(spark, base, table_name, id_col, partition_col)
    return True

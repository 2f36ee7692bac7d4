"""The persisted index families and their shared lifecycle, plus the
catalog/introspection sweep over them.

Every family (bm25, ivf, pq, lsh, minhash, simhash, semantic) persists
next to its collection as ``<root>/<name>__<suffix>``: one main table
holding one row set per indexed id (postings, assignments, codes,
buckets or bands), small side tables (stats, codebooks, meta) and, once
anything was deleted, a ``tombstones`` table. :data:`FAMILIES` is the
ONE table of that layout; the directory, clean-slate reset, live view,
delete, compact and revive-guard below are written once against it on
top of sources/tombstones.py. Each family's build, append and probe
math stays in its operator module.

``index_inventory`` answers the maintenance questions the lifecycle
docs keep deferring to "the compaction cadence": which indexes exist
next to a collection root, how big is each, and how much tombstone
debt has accumulated since the last compaction (the live view pays one
broadcast anti-join per read until then — sources/tombstones.py).

Staleness marker: an index follows the collection it was built from
only through its own append/rebuild verbs, so a collection write that
changes rows the index does not know about flags every existing index
directory of the collection with ``_stale.json`` = ``{"verb": <verb>}``
(:func:`mark_indexes_stale`, called by the generation commit in
sources/collections.py before the new generation is promoted). Implicit
reuse skips a flagged index (in-plan scoring is always correct). The
verb decides the repair: ``batch_index_data`` (a ``batch_index`` or
``batch_append``) leaves the standing rows alone, so the facade's
``append_to_*_index`` with the same batch repairs it; every other verb
(``create_collection``, ``update``, ``merge``, ``rollback``,
``recover``, ``fold``) changed standing rows, so only a rebuild does
(``*_save_index`` starts from :func:`index_reset`'s clean slate, which
drops the marker). A flag is never downgraded to ``batch_index_data``.

Reference analog: the collection introspection surface
(src/database/weaviate_interface_v4.py show_all_collections /
show_collection_config) — the reference's server exposes its schema
and shard stats; this is that surface for this engine's on-disk index
tables.

Driver-side by design: the inventory reads directory names plus
per-table counts — bounded metadata, not data — so it is NOT a
registered query (nothing here is an oracle-checkable relation over
the test tables).
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame

from . import tombstones as _tomb
from .io import _data_files, one_slice_df, read_parquet


@dataclass(frozen=True)
class IndexFamily:
    """Layout of one persisted index family."""

    suffix: str  # directory suffix: <root>/<name>__<suffix>
    kind: str  # the client facade's name for the family
    verbs: str  # facade verb set: 'text' | 'ann' | 'dedup'
    table: str  # main table, one row set per indexed id
    id_col: str
    # main-table directory partition, kept by compaction whenever the
    # table carries it (bm25's pre-bucketing and pq's centroid-less
    # layouts do not)
    partition_col: str


FAMILIES = {
    f.suffix: f
    for f in (
        IndexFamily("bm25", "bm25", "text", "postings", "doc_id", "bucket"),
        IndexFamily("ivf", "ivf", "ann", "assignments", "vec_id", "centroid_id"),
        IndexFamily("pq", "ivfpq", "ann", "codes", "vec_id", "centroid_id"),
        IndexFamily("lsh", "lsh", "ann", "buckets", "vec_id", "bucket"),
        IndexFamily("minhash", "minhash", "dedup", "bands", "doc_id", "band"),
        IndexFamily("simhash", "simhash", "dedup", "bands", "doc_id", "band"),
        IndexFamily(
            "semantic", "semantic", "dedup", "assignments", "vec_id",
            "centroid_id",
        ),
    )
}


def family(kind: str, verbs: str | None = None) -> IndexFamily:
    """The family a facade ``kind`` names, restricted to one verb set
    when ``verbs`` is given; unknown kinds raise naming the valid ones."""
    fams = [f for f in FAMILIES.values() if verbs in (None, f.verbs)]
    for f in fams:
        if f.kind == kind:
            return f
    raise ValueError(
        f"unknown {verbs or ''} index kind {kind!r} "
        f"(use {'|'.join(f.kind for f in fams)})"
    )


def index_dir(root: str, name: str, suffix: str) -> str:
    """``<root>/<name>__<suffix>`` — the only place index directory
    names are built."""
    return os.path.join(root, f"{name}__{suffix}")


def _stale_path(root: str, name: str, suffix: str) -> str:
    return os.path.join(index_dir(root, name, suffix), "_stale.json")


def mark_indexes_stale(root: str, name: str, verb: str) -> None:
    """Flag every existing index directory of the collection stale
    after ``verb``. A ``batch_index_data`` flag never overwrites another
    verb's: that index already lost standing rows, and the next append
    must not pass it as repaired."""
    for suffix in FAMILIES:
        p = _stale_path(root, name, suffix)
        if not os.path.isdir(os.path.dirname(p)):
            continue
        if verb == "batch_index_data" and os.path.isfile(p):
            continue
        with open(p, "w") as f:
            json.dump({"verb": verb}, f)


def stale_meta(root: str, name: str, suffix: str) -> dict | None:
    """The index's staleness marker (``{"verb": ...}``), None if fresh."""
    p = _stale_path(root, name, suffix)
    if not os.path.isfile(p):
        return None
    with open(p) as f:
        return json.load(f)


def clear_stale(root: str, name: str, suffix: str) -> None:
    p = _stale_path(root, name, suffix)
    if os.path.isfile(p):
        os.remove(p)


def index_reset(root: str, name: str, suffix: str) -> str:
    """Clean slate for a (re)build; returns the index directory. A
    leftover tombstone table from the previous generation would
    otherwise be applied to the NEW rows by the live view, suppressing
    re-ingested ids (r11 review)."""
    base = index_dir(root, name, suffix)
    shutil.rmtree(base, ignore_errors=True)
    return base


def index_live(spark, root: str, name: str, suffix: str) -> DataFrame:
    """The LIVE main table: persisted rows minus tombstoned ids, so
    deleted ids stop surfacing immediately, not at the next compaction."""
    fam = FAMILIES[suffix]
    base = index_dir(root, name, suffix)
    return _tomb.apply_tombstones(
        spark, base, read_parquet(spark, os.path.join(base, fam.table)),
        fam.id_col,
    )


def index_delete(
    spark, root: str, name: str, suffix: str, deleted_ids: DataFrame
) -> int:
    """Tombstone ids out of a persisted index: O(|delete batch|), no
    main-table rewrite (an id's rows span every band, bucket or term
    partition); reads skip them via the live view. Side tables such as
    codebooks are statistics, not members, and stay as they are; BM25
    routes to bm25_index_delete, which also corrects its term/corpus
    stats so IDF reflects the live corpus. ``deleted_ids`` carries
    the family's id column. Returns newly-recorded id count
    (replay-idempotent)."""
    if suffix == "bm25":
        from ..operators.bm25 import bm25_index_delete

        return bm25_index_delete(spark, root, name, deleted_ids)
    return _tomb.tombstone_append(
        spark, index_dir(root, name, suffix), deleted_ids,
        FAMILIES[suffix].id_col,
    )


def index_compact(spark, root: str, name: str, suffix: str) -> int:
    """Fold tombstones into a physical main-table rewrite (partition
    layout kept) and clear them; returns live rows kept."""
    fam = FAMILIES[suffix]
    return _tomb.compact_table(
        spark, index_dir(root, name, suffix), fam.table, fam.id_col,
        fam.partition_col,
    )


def index_compact_if_reviving(
    spark, root: str, name: str, suffix: str, ids: DataFrame
) -> bool:
    """The append paths' revive guard (tombstones.compact_if_reviving)
    on the family's main table; ``ids`` carries the family's id
    column."""
    fam = FAMILIES[suffix]
    return _tomb.compact_if_reviving(
        spark, index_dir(root, name, suffix), fam.table, ids, fam.id_col,
        fam.partition_col,
    )


def index_inventory(spark, root: str) -> DataFrame:
    """One row per persisted index under ``root``:
    (collection, family, path, rows, live_rows, tombstoned_ids,
    n_files, needs_compaction).

    ``rows`` counts physical rows in the family's main table,
    ``live_rows`` the tombstone-filtered view, ``tombstoned_ids`` the
    distinct deleted-id backlog, ``n_files`` the parquet file count
    (every append lands a new file batch, so this is the SMALL-FILE
    debt axis — compaction rewrites fix both); ``needs_compaction`` is
    simply tombstoned_ids > 0 — the signal to schedule
    :func:`index_compact` (the facade's ``compact_*_index`` verbs)
    before read-side anti-join debt (or an inline compact_if_reviving
    on a re-ingest) grows. Counting jobs run per index — this is a
    maintenance sweep, not a hot-path call.
    """
    rows = []
    for entry in sorted(os.listdir(root)) if os.path.isdir(root) else []:
        if "__" not in entry:
            continue
        collection, family = entry.rsplit("__", 1)
        if family not in FAMILIES:
            continue
        fam = FAMILIES[family]
        base = os.path.join(root, entry)
        path = os.path.join(base, fam.table)
        if not os.path.isdir(path):
            continue
        table = spark.read.parquet(path)
        n = table.count()
        n_files = len(_data_files(path))
        tombs = _tomb.load_tombstones(spark, base, fam.id_col)
        n_tombs = tombs.count() if tombs is not None else 0
        live = (
            _tomb.apply_tombstones(spark, base, table, fam.id_col).count()
            if n_tombs
            else n
        )
        rows.append(
            (collection, family, base, n, live, n_tombs, n_files, n_tombs > 0)
        )
    return one_slice_df(
        spark,
        rows,
        "collection string, family string, path string, rows long, "
        "live_rows long, tombstoned_ids long, n_files long, "
        "needs_compaction boolean",
    )

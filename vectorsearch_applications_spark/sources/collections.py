"""Collection lifecycle (SURVEY.md S5, S6, S8, §3.4).

The reference manages Weaviate collections (create/list/describe/delete —
``src/database/weaviate_interface_v4.py:77-168``) and batch-indexes rows
with a 1%-error budget plus failed-row capture (``batch_index_data``
:409-492). A collection here is a parquet table + registered view; indexing
is a validated write with a quarantine table instead of a driver-side error
list; "point update" (the reference's per-uuid property backfill,
``notebooks/7-…ipynb`` cell 22) is a declarative column recompute +
overwrite — no row-wise RPCs.

Every writer that replaces a generation commits it the same way,
through :func:`_commit_generation`: clear any leftover
``<name>__staging``, write the new generation there, flag the
collection's persisted indexes, move the live directory aside to
``<name>__old``, promote the staging directory, delete the old one. A
crash at any step leaves the old or the new generation readable, and
:func:`recover_collection` finishes or undoes the swap. Indexes are
flagged (sources/index_catalog.py ``mark_indexes_stale``) before the
swap, so a crash can leave a conservative flag but never an unflagged
stale index. The flag's verb is the writer's: ``create_collection``,
``batch_index_data`` (``batch_index``, and ``batch_append``, which
appends instead of swapping), ``update``, ``merge``, ``rollback``,
``recover`` (only when recovery changes the live generation) and
``fold`` (streaming/fenced.py). Rewrites that keep every row
(``compact_collection``, ``cluster_collection``, ``zorder_collection``)
flag nothing.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .index_catalog import FAMILIES, index_reset, mark_indexes_stale
from .io import _data_files, forget, read_parquet


class IndexingError(RuntimeError):
    pass


def _commit_generation(root: str, name: str, write, verb: str | None) -> str:
    """Replace ``<root>/<name>`` with the generation ``write(tmp)``
    writes to a staging directory; returns the collection path. ``verb``
    names the write in the stale markers of the collection's indexes;
    None for a rewrite that keeps every row."""
    path = os.path.join(root, name)
    tmp, old = path + "__staging", path + "__old"
    shutil.rmtree(tmp, ignore_errors=True)
    write(tmp)
    if verb:
        mark_indexes_stale(root, name, verb)
    if os.path.isdir(path):
        shutil.rmtree(old, ignore_errors=True)
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    return path


def _link_tree(src: str, dst: str) -> None:
    """Hard-link copy of the directory tree ``src`` to ``dst``."""
    os.makedirs(dst)
    for dirpath, dirs, files in os.walk(src):
        rel = os.path.relpath(dirpath, src)
        for d in dirs:
            os.makedirs(os.path.join(dst, rel, d), exist_ok=True)
        for f in files:
            os.link(os.path.join(dirpath, f), os.path.join(dst, rel, f))


def _check_name(name: str) -> None:
    """Hyphens are rejected like the reference's name check
    (``weaviate_interface_v4.py:392-393``). 'x@y' is the on-disk form of
    snapshot y of collection x, and '__staging'/'__old' are the commit's
    scratch generations: a collection literally named like any of them
    would be indistinguishable from (and could be rmtree'd as) another
    collection's artifact."""
    if "-" in name:
        raise ValueError("collection names may not contain hyphens")
    if "@" in name:
        raise ValueError(
            "collection names may not contain '@' (snapshot-tag separator)"
        )
    if name.endswith("__staging") or name.endswith("__old"):
        raise ValueError(
            "collection names may not end with '__staging' or '__old'"
        )


def create_collection(
    spark: SparkSession,
    root: str,
    name: str,
    df: DataFrame,
    partition_by: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_ndv: int = 1_000_000,
) -> str:
    """Create (or replace) a collection table; names are checked by
    :func:`_check_name`.

    ``bloom_cols`` writes parquet bloom filters for the given columns —
    the point-lookup complement to min/max stats: footer ranges prune
    RANGE predicates after clustering, blooms prune EQUALITY probes on
    high-cardinality ids even in unclustered layouts (membership is
    checked per row group before any page is read). Size ``bloom_ndv``
    to the expected distinct count per row group.
    """
    _check_name(name)
    writer = df.write
    for c in bloom_cols or []:
        writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
        writer = writer.option(
            f"parquet.bloom.filter.expected.ndv#{c}", str(bloom_ndv)
        )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    return _commit_generation(root, name, writer.parquet, "create_collection")


def list_collections(root: str) -> list[str]:
    if not os.path.isdir(root):
        return []
    return sorted(
        d for d in os.listdir(root) if os.path.isdir(os.path.join(root, d))
    )


def describe_collection(spark: SparkSession, root: str, name: str) -> list[tuple[str, str]]:
    df = read_parquet(spark, os.path.join(root, name))
    return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]


def drop_collection(root: str, name: str) -> None:
    """Delete the collection, free its session-cache entries (a deleted
    path is never read again) and remove its index directories, so a
    future same-name collection cannot inherit them."""
    path = os.path.join(root, name)
    shutil.rmtree(path)
    forget(path)
    for suffix in FAMILIES:
        index_reset(root, name, suffix)


def batch_index(
    spark: SparkSession,
    root: str,
    name: str,
    df: DataFrame,
    not_null_cols: list[str],
    error_threshold: float = 0.01,
) -> dict[str, int]:
    """Validated batch indexing with an error budget.

    Rows failing the not-null checks land in ``<name>__quarantine``; if the
    failure fraction exceeds ``error_threshold`` the indexing aborts (the
    reference aborts above 1% — ``weaviate_interface_v4.py:459,469-472``).
    Returns {"indexed": n_good, "quarantined": n_bad}.
    """
    _check_name(name)
    ok = F.lit(True)
    for c in not_null_cols:
        ok = ok & F.col(c).isNotNull()
    flagged = df.withColumn("_ok", ok)
    # single pass over the input: cache, count both sides
    flagged = flagged.persist()
    try:
        n_total = flagged.count()
        n_bad = flagged.filter(~F.col("_ok")).count()
        if n_total > 0 and n_bad / n_total > error_threshold:
            raise IndexingError(
                f"{n_bad}/{n_total} rows failed validation "
                f"(> {error_threshold:.0%} budget); indexing aborted"
            )
        good = flagged.filter(F.col("_ok")).drop("_ok")
        bad = flagged.filter(~F.col("_ok")).drop("_ok")
        _commit_generation(root, name, good.write.parquet, "batch_index_data")
        qname = f"{name}__quarantine"
        if n_bad:
            _commit_generation(root, qname, bad.write.parquet, None)
        else:
            # a clean re-index must not leave a previous generation's
            # failures lying around
            shutil.rmtree(os.path.join(root, qname), ignore_errors=True)
        return {"indexed": n_total - n_bad, "quarantined": n_bad}
    finally:
        flagged.unpersist()


def batch_append(
    spark: SparkSession,
    root: str,
    name: str,
    df: DataFrame,
    not_null_cols: list[str],
    error_threshold: float = 0.01,
) -> dict[str, int]:
    """Validated APPEND into an existing collection — the streaming
    ingest unit (client.stream_ingest). Same not-null checks and error
    budget as :func:`batch_index` (the reference's >1% abort,
    weaviate_interface_v4.py:459,469-472), but good rows append to the
    standing generation instead of replacing it — O(|batch|) per
    micro-batch regardless of corpus size — and failures append to the
    quarantine (a stream accumulates its rejects; it does not get a
    clean-re-index reset). Returns {"indexed": n_good, "quarantined":
    n_bad}."""
    ok = F.lit(True)
    for c in not_null_cols:
        ok = ok & F.col(c).isNotNull()
    flagged = df.withColumn("_ok", ok).persist()
    try:
        n_total = flagged.count()
        n_bad = flagged.filter(~F.col("_ok")).count()
        if n_total > 0 and n_bad / n_total > error_threshold:
            raise IndexingError(
                f"{n_bad}/{n_total} rows failed validation "
                f"(> {error_threshold:.0%} budget); append aborted"
            )
        good = flagged.filter(F.col("_ok")).drop("_ok")
        if n_total - n_bad:
            mark_indexes_stale(root, name, "batch_index_data")
            good.write.mode("append").parquet(os.path.join(root, name))
        if n_bad:
            flagged.filter(~F.col("_ok")).drop("_ok").write.mode(
                "append"
            ).parquet(os.path.join(root, f"{name}__quarantine"))
        return {"indexed": n_total - n_bad, "quarantined": n_bad}
    finally:
        flagged.unpersist()


def update_collection(
    spark: SparkSession,
    root: str,
    name: str,
    transform,
) -> None:
    """Point update, Spark-style: recompute columns for every row and
    overwrite the collection (S8). ``transform(df) -> DataFrame`` — a
    window-derived column (like the expanded_content backfill) needs the
    whole frame, not just an expression."""
    updated = transform(spark.read.parquet(os.path.join(root, name)))
    _commit_generation(root, name, updated.write.parquet, "update")


def compact_collection(
    spark: SparkSession,
    root: str,
    name: str,
    target_bytes_per_file: int = 128 * 1024 * 1024,
) -> dict[str, int]:
    """Small-file compaction (the 100 TB ops chore batch_index/streaming
    appends eventually force): rewrite the collection into
    ceil(total_bytes / target) files of ~HDFS-block size.

    Incremental sinks (foreachBatch appends, micro-batch writers) leave a
    file per task per trigger; at scale that becomes millions of tiny
    files — a scheduler task per file, a parquet footer fetch per file,
    and row groups too small for effective column-chunk compression and
    min/max skipping. Compaction restores scan efficiency without
    changing a single row.

    Commits like every other writer (:func:`_commit_generation`) and
    flags no index: every row is kept.
    Returns {"files_before": ..., "files_after": ..., "rows": ...}.
    """
    path = os.path.join(root, name)
    before = _data_files(path) or ()
    total_bytes = sum(size for _, size, _ in before)
    n_files = max(1, -(-total_bytes // target_bytes_per_file))
    df = spark.read.parquet(path)
    rows = df.count()
    # coalesce, not repartition: narrowing the file count must not buy a
    # full shuffle of the collection
    _commit_generation(root, name, df.coalesce(n_files).write.parquet, None)
    return {
        "files_before": len(before),
        "files_after": len(_data_files(path)),
        "rows": rows,
    }


def cluster_collection(
    spark: SparkSession,
    root: str,
    name: str,
    cluster_cols: list[str],
    n_files: int | None = None,
) -> None:
    """Cluster a collection for data skipping: range-partition by the
    given columns and sort within each partition, so every parquet file
    (and row group) covers a narrow, non-overlapping min/max range of the
    cluster key.

    Parquet readers prune row groups by footer min/max statistics, but
    statistics only help when values are clustered — a randomly-laid-out
    100 TB table has every file spanning the whole key range, so a point
    or range predicate still touches every file. After clustering, a
    range predicate touches O(selectivity) files. This is the layout
    complement to predicate pushdown (SCALE.md): pushdown decides WHAT to
    skip, clustering makes skipping POSSIBLE.

    One range shuffle, then a partition-local sort — the minimum work
    that buys the layout. Committed like every writer; flags no index.
    """
    df = spark.read.parquet(os.path.join(root, name))
    if n_files:
        clustered = df.repartitionByRange(n_files, *cluster_cols)
    else:
        clustered = df.repartitionByRange(*cluster_cols)
    clustered = clustered.sortWithinPartitions(*cluster_cols)
    _commit_generation(root, name, clustered.write.parquet, None)


def zorder_value(x: str, y: str, bits: int = 16) -> Column:
    """Morton (Z-order) interleave of two non-negative integer columns,
    built as a pure Catalyst bit expression (no UDF): bit i of x lands at
    position 2i, bit i of y at 2i+1, in one left-associative OR chain.
    Inputs must already be rank/scale normalized into [0, 2^bits); the
    z-value fits in BIGINT for bits <= 31."""
    from ..functions.vectors import sql_ident

    xs, ys = sql_ident(x), sql_ident(y)
    terms = [
        f"shiftleft(shiftright(CAST({c} AS BIGINT), {i}) & 1, {2 * i + o})"
        for i in range(bits)
        for o, c in ((0, xs), (1, ys))
    ]
    return F.expr(" | ".join(terms))


def zorder_collection(
    spark: SparkSession,
    root: str,
    name: str,
    col_x: str,
    col_y: str,
    n_files: int | None = None,
    bits: int = 8,
) -> None:
    """TWO-dimensional clustering for data skipping: lay the collection
    out along a Morton curve over (col_x, col_y) so parquet footer
    min/max statistics prune files for predicates on EITHER column.

    Linear clustering (cluster_collection) is optimal for its leading
    column and useless for the second; the Z-curve trades a little
    per-column locality so both dimensions skip — the standard lakehouse
    layout for two-predicate workloads (public Delta/Iceberg OPTIMIZE
    ZORDER semantics, re-expressed as plain Spark).

    Keys are quantile-normalized into [0, 2^bits): approxQuantile
    computes 2^bits boundaries per column DISTRIBUTED (a global
    percent_rank window would single-partition the whole collection —
    exactly the plan this module exists to avoid), and bucket assignment
    is a fold over the boundary literals in codegen. Then one range
    shuffle on the z-value + partition-local sort, committed like
    cluster_collection. Default 8 bits/dim = 65k z-cells —
    file-granularity skipping needs no more.
    """
    df = spark.read.parquet(os.path.join(root, name))

    def bucketize(col: str, alias: str):
        n_b = (1 << bits) - 1
        probs = [i / (1 << bits) for i in range(1, 1 << bits)]
        bounds = df.approxQuantile(col, probs, 0.001)
        barr = F.array(*[F.lit(float(b)) for b in bounds])
        # bucket = #boundaries <= x : a codegen fold over 2^bits-1 literals
        return F.aggregate(
            barr,
            F.lit(0).cast("long"),
            lambda acc, b: acc
            + (F.col(col).cast("double") >= b).cast("long"),
        ).alias(alias), n_b

    zx, _ = bucketize(col_x, "_zx")
    zy, _ = bucketize(col_y, "_zy")
    ranked = df.select("*", zx, zy)
    z = ranked.withColumn(
        "_z", zorder_value("_zx", "_zy", bits)
    )
    if n_files:
        clustered = z.repartitionByRange(n_files, "_z")
    else:
        clustered = z.repartitionByRange("_z")
    clustered = clustered.sortWithinPartitions("_z").drop("_zx", "_zy", "_z")
    _commit_generation(root, name, clustered.write.parquet, None)


def merge_frame(
    target: DataFrame,
    changes: DataFrame,
    key_col: str = "doc_id",
    op_col: str = "op",
    seq_col: str = "seq",
    winners: DataFrame | None = None,
) -> DataFrame:
    """MERGE INTO as a pure DataFrame plan (the core merge_collection
    executes, factored out so batch queries can grade it without disk
    I/O): reduce the change set to one last-writer-wins winner per key
    (ties on seq break toward the delete so replays cannot resurrect a
    deleted row), then target ⟕anti changed-keys ∪ upsert-winners.

    ``winners`` accepts a pre-reduced change set (merge_winners output) so
    callers that also need the winner table — merge_collection counts
    upserts and deletes off it — build the window exactly once.

    The window runs on the CHANGE SET only (micro-batch-sized); the
    target is touched by exactly one anti-join keyed on the merge key —
    at 100 TB the target never shuffles beyond that key exchange, and
    with a small change set AQE turns the anti-join broadcast."""
    latest = (
        winners
        if winners is not None
        else merge_winners(changes, key_col, op_col, seq_col)
    )
    upserts = latest.filter(F.col(op_col) == "upsert").select(*target.columns)
    keys = latest.select(key_col)
    return target.join(keys, key_col, "left_anti").unionByName(upserts)


def merge_winners(
    changes: DataFrame,
    key_col: str = "doc_id",
    op_col: str = "op",
    seq_col: str = "seq",
) -> DataFrame:
    """Last-writer-wins reduction of a change set: one row per key, ties
    on seq breaking toward the delete (replay-safe)."""
    w = Window.partitionBy(key_col).orderBy(
        F.desc(seq_col), F.desc((F.col(op_col) == "delete").cast("int"))
    )
    return (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def merge_collection(
    spark: SparkSession,
    root: str,
    name: str,
    changes: DataFrame,
    key_col: str = "doc_id",
    op_col: str = "op",
    seq_col: str = "seq",
) -> dict[str, int]:
    """CDC MERGE (upsert + delete) applied in ONE declarative pass — the
    batch analog of MERGE INTO for plain-parquet collections.

    ``changes`` carries the change set: the target's columns plus ``op``
    ('upsert' | 'delete') and a monotonically increasing ``seq`` used for
    last-writer-wins when one key changes several times in the batch
    (ties on seq break toward the delete so replays cannot resurrect a
    deleted row).

    Plan: reduce changes to one winner per key (window on the CHANGE SET,
    which is micro-batch-sized — never the target), then
    target ⟕anti changed-keys ∪ upsert-winners. The target is touched by
    exactly one anti-join keyed on the merge key; no per-row RPCs
    (the reference backfills properties per-uuid over HTTP,
    notebooks/7-…ipynb cell 22 — that loop is this one plan here).
    Committed by :func:`_commit_generation`, flagging indexes ``merge``.
    Returns {"upserted": n, "deleted": n, "rows": final_count}.
    """
    path = os.path.join(root, name)
    target = spark.read.parquet(path)

    # One winner window, reused across all three actions below (upsert
    # count, delete semi-join, merged write) — localCheckpoint pins the
    # micro-batch-sized reduction so no action recomputes it.
    latest = merge_winners(changes, key_col, op_col, seq_col).localCheckpoint(
        eager=False
    )
    upserts = latest.filter(F.col(op_col) == "upsert").select(*target.columns)
    merged = merge_frame(
        target, changes, key_col, op_col, seq_col, winners=latest
    )

    n_up = upserts.count()
    # 'deleted' counts rows actually REMOVED from the target, not
    # delete-winners whose key never existed (a no-op replay batch must
    # report 0 deletes): semi-join the delete-winner keys to the target.
    delete_keys = latest.filter(F.col(op_col) == "delete").select(key_col)
    n_del = target.join(delete_keys, key_col, "left_semi").count()
    _commit_generation(root, name, merged.write.parquet, "merge")
    rows = spark.read.parquet(path).count()
    return {"upserted": n_up, "deleted": n_del, "rows": rows}


def snapshot_collection(root: str, name: str, tag: str) -> str:
    """Tag the collection's current generation: hard-link-copy the
    parquet directory to ``name@tag``. Pairs with operators/diff.py
    (audit what changed between tags) and rollback_collection (restore a
    tag). Hard links make the snapshot O(#files) metadata work, not a
    data copy — parquet files are immutable once written (every writer
    here stages + swaps whole generations), so links can never observe
    in-place mutation. The lakehouse-table-format time-travel story,
    reduced to plain directories.
    """
    if "@" in name:
        raise ValueError("collection names may not contain '@'")
    dst = os.path.join(root, f"{name}@{tag}")
    if os.path.isdir(dst):
        raise ValueError(f"snapshot tag exists: {tag}")
    _link_tree(os.path.join(root, name), dst)
    return dst


def list_snapshots(root: str, name: str) -> list[str]:
    prefix = f"{name}@"
    return sorted(
        d[len(prefix):]
        for d in os.listdir(root)
        if d.startswith(prefix) and os.path.isdir(os.path.join(root, d))
    )


def expire_snapshots(
    root: str,
    name: str,
    keep_last: int = 3,
    keep: tuple[str, ...] = (),
) -> list[str]:
    """Snapshot GC (the Iceberg ``expireSnapshots`` chore on plain
    directories): delete all but the ``keep_last`` newest tags, never
    touching tags listed in ``keep``. Age is the snapshot directory's
    mtime (creation time — snapshots are never modified after linking),
    not the tag string, so arbitrary tag names order correctly.

    Deleting a snapshot only unlinks its hard links; data files still
    referenced by the live generation or another snapshot keep their
    other links — space is reclaimed exactly for the files ONLY the
    expired tags referenced, the same refcount semantics a table
    format's manifest GC provides. Returns the removed tags.
    """
    if keep_last < 0:
        raise ValueError("keep_last must be >= 0")
    tags = list_snapshots(root, name)
    by_age = sorted(
        tags,
        key=lambda t: os.path.getmtime(os.path.join(root, f"{name}@{t}")),
    )
    protected = set(keep)
    survivors = set(by_age[len(by_age) - keep_last :]) if keep_last else set()
    removed = []
    for t in by_age:
        if t in protected or t in survivors:
            continue
        shutil.rmtree(os.path.join(root, f"{name}@{t}"))
        removed.append(t)
    return removed


def recover_collection(root: str, name: str) -> str:
    """Resolve crash leftovers of the staged-swap protocol (stage →
    move-aside → rename → delete) — the executable form of the
    "a crash mid-swap leaves either the old or the new generation
    recoverable" promise every writer here makes. Run it before reads
    after an unclean shutdown (or from a janitor). Returns the action
    taken:

    - ``clean`` — live generation present, no leftovers.
    - ``discarded_staging`` — crash before the swap: incomplete/unused
      staging removed, live generation untouched.
    - ``discarded_old`` — crash after promotion but before cleanup: the
      moved-aside generation removed, live generation untouched.
    - ``promoted_staging`` — crash between move-aside and promotion with
      a COMPLETE staging (Spark's _SUCCESS marker): staging promoted,
      old removed — finishes the interrupted swap forward.
    - ``restored_old`` — same window but staging incomplete: the
      moved-aside generation restored — rolls the swap back.

    The _SUCCESS marker is the completeness criterion: Spark commits it
    only after every task output is in place, so its presence means the
    staging directory is a fully written generation.

    The last two actions change the live generation, so they flag the
    collection's indexes ``recover`` before renaming anything.
    """
    path = os.path.join(root, name)
    tmp, old = path + "__staging", path + "__old"
    has_path, has_tmp, has_old = (
        os.path.isdir(path),
        os.path.isdir(tmp),
        os.path.isdir(old),
    )
    tmp_complete = has_tmp and os.path.isfile(os.path.join(tmp, "_SUCCESS"))
    if has_path:
        action = "clean"
        if has_tmp:
            shutil.rmtree(tmp)
            action = "discarded_staging"
        if has_old:
            shutil.rmtree(old)
            action = "discarded_old" if action == "clean" else action
        return action
    if tmp_complete:
        mark_indexes_stale(root, name, "recover")
        os.rename(tmp, path)
        if has_old:
            shutil.rmtree(old)
        return "promoted_staging"
    if has_old:
        mark_indexes_stale(root, name, "recover")
        if has_tmp:
            shutil.rmtree(tmp)
        os.rename(old, path)
        return "restored_old"
    raise ValueError(
        f"collection '{name}' has no live, staged, or moved-aside "
        "generation to recover"
    )


def rollback_collection(root: str, name: str, tag: str) -> None:
    """Restore the collection to a tagged snapshot (the snapshot remains):
    the snapshot is hard-linked into the staging directory and committed
    like any other generation."""
    src = os.path.join(root, f"{name}@{tag}")
    if not os.path.isdir(src):
        raise ValueError(f"no such snapshot: {tag}")
    _commit_generation(root, name, lambda tmp: _link_tree(src, tmp), "rollback")

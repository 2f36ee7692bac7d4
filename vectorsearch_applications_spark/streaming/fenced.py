"""Generic fenced foreachBatch fold — the effectively-once harness shared
by every NON-idempotent streaming accumulator here (SCD2 dimension
maintenance, sketch merging).

foreachBatch replays batches at-least-once; an idempotent apply (the LWW
CDC merge) absorbs that for free, but a FOLD (x ⊕ batch) double-applies
on replay. The fence: the applied batch_id is written as an
underscore-prefixed sidecar (``_applied_batch``, invisible to parquet
readers like ``_SUCCESS``) INSIDE the staged generation, so the folded
state and its fence promote together — there is no crash window where
one is committed without the other, and a replayed batch (checkpoint
says unprocessed, fence says applied) is skipped.

The generation is committed by sources/collections.py
``_commit_generation``, the one crash-recoverable promotion every
collection writer uses; a fold changes rows, so it flags the
collection's persisted indexes ``fold``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..sources.collections import _commit_generation

_FENCE = "_applied_batch"


def applied_batch_id(path: str) -> int:
    try:
        with open(os.path.join(path, _FENCE)) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return -1


def fenced_fold_stream(
    spark: SparkSession,
    stream: DataFrame,
    root: str,
    name: str,
    checkpoint_dir: str,
    fold,
):
    """Start a foreachBatch query folding each micro-batch into the
    collection at ``root/name`` with batch-id fencing.

    ``fold(current: DataFrame | None, batch: DataFrame) -> DataFrame`` —
    ``current`` is None on the first ever batch. Returns the
    StreamingQuery (caller awaits).
    """
    path = os.path.join(root, name)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if batch_id <= applied_batch_id(path):
            return  # replayed batch already folded into this generation
        current = spark.read.parquet(path) if os.path.isdir(path) else None
        updated = fold(current, batch_df)

        def write(tmp: str) -> None:
            updated.write.parquet(tmp)
            with open(os.path.join(tmp, _FENCE), "w") as f:
                f.write(str(batch_id))

        _commit_generation(root, name, write, "fold")

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )

"""Streaming sinks: exactly-once upsert via foreachBatch.

The reference's silver write is a blind per-file overwrite with a
non-atomic move protocol (``app/sliver.py:173-187``). The streaming-native
replacement is ``foreachBatch`` + MERGE semantics: each micro-batch upserts
into the target keyed table; the checkpoint guarantees each batch is applied
once per epoch, and the upsert makes replays idempotent (same keys → same
final state) — the standard exactly-once recipe for non-transactional sinks.

Both sinks commit through pipeline/table_format.py (``ManagedTable`` and
``VersionedTable``), which owns the stage-and-publish protocol; with a
transactional table format the per-batch rewrite becomes a real MERGE INTO.
:func:`start_micro_batches` is the one ``foreachBatch`` start every
streaming sink in the package shares.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from lakehouse_architecture_spark.pipeline.table_format import ManagedTable


def start_micro_batches(
    stream: DataFrame,
    apply_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
) -> StreamingQuery:
    """Start ``stream`` with ``apply_batch(batch, epoch_id)`` per
    micro-batch, checkpointed in ``checkpoint_dir``, draining everything
    available now and then stopping."""
    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def foreach_batch_upsert(
    stream: DataFrame,
    target_path: str,
    keys: list[str],
    checkpoint_dir: str,
) -> StreamingQuery:
    """Run the stream with each micro-batch MERGEd into ``target_path``, a
    parquet :class:`~lakehouse_architecture_spark.pipeline.table_format.
    ManagedTable`: its Hadoop-FS existence check sees ``scheme://``
    targets too, so no later epoch takes the create branch and overwrites
    the merged table with one batch."""
    table = ManagedTable(stream.sparkSession, target_path, keys, format="parquet")

    def apply_batch(batch: DataFrame, epoch_id: int) -> None:
        # last-writer within a batch is arbitrary; dedup first so the
        # upsert is well-defined
        table.merge(batch.dropDuplicates(keys))

    return start_micro_batches(stream, apply_batch, checkpoint_dir)


def foreach_batch_versioned(
    stream: DataFrame,
    table,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Stream into a :class:`~lakehouse_architecture_spark.pipeline.
    table_format.VersionedTable`: one MERGE-committed snapshot version per
    micro-batch, so the streaming history is time-travelable and each
    batch's delta is recoverable via ``read_changes``.

    Exactly-once across restarts: every version is stamped with the epoch
    that produced it (``_epoch`` marker staged in the commit's tmp dir, so
    the atomic rename covers data + marker together); a replayed epoch —
    the checkpoint re-delivers the last unacknowledged batch after a crash
    — is detected and skipped instead of committing a duplicate version.
    """

    import hashlib

    # markers are scoped to the checkpoint: epoch ids restart at 0 under a
    # fresh checkpoint dir (or a second query), so a bare epoch_id would
    # collide with stale markers and silently DROP the new batches as
    # "replays" — the scope makes the dedup key valid per query lineage
    scope = hashlib.md5(checkpoint_dir.encode()).hexdigest()[:8]

    def apply_batch(batch: DataFrame, epoch_id: int) -> None:
        stamp = f"{scope}:{epoch_id}"
        if stamp in table.epochs().values():
            return  # crash-replay of an already-committed batch
        batch = batch.dropDuplicates(table.keys)
        table.merge(batch, epoch=stamp)

    return start_micro_batches(stream, apply_batch, checkpoint_dir)

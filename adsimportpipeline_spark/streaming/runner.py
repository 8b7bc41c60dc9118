"""Structured Streaming wiring: change stream -> foreachBatch apply.

Replaces the reference's RabbitMQ/Celery orchestration (config.py:38-39
at-least-once) with checkpointed foreachBatch + the lake's commit-epoch
manifest => exactly-once end-to-end.  ``trigger(availableNow=True)`` is the
bounded-replay mode (process the whole backlog as micro-batches, then stop);
kill-and-resume works because the checkpoint replays the in-flight batch id
and the epoch check makes the replay a no-op.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..apply import apply_batch
from ..lake.table import LakeTable
from ..sources.changelog import stream_change_log


def _apply_and_maintain_index(table, index, batch_df, batch_id):
    """apply_batch + incremental LSH index maintenance.  The index is fed
    the batch's own LWW winners (:func:`batch_winner_texts`), never the
    table: winners the apply rejected become band rows the validity rule
    drops at read, and a re-delivery after a crash between the table and
    index commits derives the same rows from the same batch.

    The index was once fed by reading the batch's touched pages buckets
    back after the commit; that read grew with the table.  LSH-index
    replay of a 12 k-event / 1.2 k-url log in 10 files, one file per
    trigger, 8 buckets, ``local[4]`` on 4 vCPUs, two runs each, batches
    1-9: read back, walls climbed 1.5 -> 2.1 s (p50 1.69-1.73 s, 18 Spark
    jobs per batch); fed from the batch, flat at 0.70-0.99 s (p50
    0.78-0.83 s, 11 jobs).  The plain apply is 0.29-0.31 s and 4 jobs."""
    from ..operators.incremental_dedup import batch_winner_texts, update_lsh_index

    stats = apply_batch(table, batch_df, batch_id)
    if index is not None:
        update_lsh_index(index, batch_winner_texts(batch_df), batch_id)
    return stats


def run_replay(
    spark: SparkSession,
    log_path: str,
    table_root: str,
    checkpoint: str,
    max_files_per_trigger: int | None = 8,
    available_now: bool = True,
    collect_stats: list | None = None,
    lsh_index_root: str | None = None,
) -> StreamingQuery | None:
    """Replay the change log into the lake table.  With the default
    ``available_now=True`` it blocks until the log is drained and returns
    None; with ``available_now=False`` it starts a CONTINUOUS query and
    returns the live :class:`StreamingQuery` — keep the handle, it is the
    only way to stop/await the stream.

    ``lsh_index_root``: when given, the MinHash-LSH band index
    (:mod:`..operators.incremental_dedup`) is maintained in the same
    micro-batch loop from the batch alone — its per-batch I/O is the batch
    in and its band rows out, never a read of the table — so near-dup
    candidates are queryable at any point via
    :func:`~..operators.incremental_dedup.lsh_index_pairs` without a
    full-corpus recompute.  Exactly-once composes: the main table commits
    its epoch FIRST; a crash between the two commits replays the batch,
    the table apply no-ops on its epoch, and the index (whose epoch never
    landed) derives the same band rows from the re-delivered batch and
    catches up — both sides idempotent, proven by
    tests/test_incremental_dedup.py."""
    table = LakeTable.load(spark, table_root)
    stream = stream_change_log(spark, log_path, max_files_per_trigger)
    index = None
    if lsh_index_root is not None:
        from ..operators.incremental_dedup import create_lsh_index

        index = create_lsh_index(spark, lsh_index_root)

    def _apply(batch_df, batch_id):
        stats = _apply_and_maintain_index(table, index, batch_df, batch_id)
        if collect_stats is not None:
            collect_stats.append(stats)

    writer = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .queryName("cdc-replay")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    else:
        q = writer.start()
        return q

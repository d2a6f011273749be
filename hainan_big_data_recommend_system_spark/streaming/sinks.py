"""Streaming sinks (SURVEY.md §2.1 S11/S12, §2.10 T1/T4).

The reference writes per-user Redis string keys with retry/reconnect
(`guessLike_u_like.py:211-226`).  Spark-side that is a ``foreachBatch``
KV upsert: each micro-batch computes (key, value) rows and hands them to a
pluggable writer.  ``foreachBatch`` gives at-least-once delivery — the
writer must be idempotent (last-write-wins KV upserts are), which replaces
the reference's sleep/reconnect/retry loop with the engine's own retry
machinery.

The driver-side dict writer serves tests and the benchmark; a
Redis/production writer plugs in the same interface without touching the
query.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


KVWriter = Callable[[DataFrame, int], None]


def memory_kv_writer(store: dict) -> KVWriter:
    """Driver-side dict KV sink for unit tests (last-write-wins upsert)."""

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        for row in batch_df.collect():
            store[row["kv_key"]] = row["ids_csv"]

    return write


def start_kv_query(
    result_stream: DataFrame,
    writer: KVWriter,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """T1/T6: run the streaming query — ``availableNow`` drains everything
    present then stops (the daily-batch trigger, `log_analyze.py` lifecycle);
    otherwise continuous micro-batches.

    Besides the writer's output, each trigger commits three files under
    ``checkpoint_dir``, each with a ``.crc`` sidecar: the file source's
    log entry ``sources/0/<batch>`` (the files it takes), the offset log
    ``offsets/<batch>`` before ``writer`` runs, and the commit log
    ``commits/<batch>`` after it returns.  Each is written to a temp file
    and renamed into place by the checkpoint manager ``session.get_spark``
    selects; a restart replays the batch whose offsets have no commit."""
    q = result_stream.writeStream.foreachBatch(writer).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        q = q.trigger(availableNow=True)
    return q.start()

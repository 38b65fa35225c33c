"""Streaming sinks through the engine's reliability layer.

``foreach_batch_sink`` bridges Structured Streaming to any batch sink
spec (sinks.writers) with per-batch idempotence: each micro-batch
writes once and drops a ``batch-<id>`` marker in the StateStore; on
restart-and-replay (Spark re-delivers the last uncommitted batch) the
marker makes the write a no-op — exactly-once effect on top of Spark's
at-least-once foreachBatch contract. This is the streaming twin of the
reference's per-file checkpoint markers
(verizon_table_migration_Rakesh_filters.py:237-276).

The marker alone only covers replay of *marker-committed* batches; a
crash after the write but before the marker re-delivers a batch whose
rows are already in the sink. File-format batches therefore go through
``write_file_idempotent`` (temp dir + deterministic ``batch-<id>-<i>``
names) so the replayed write overwrites its own targets instead of
appending. Keyed sinks (JDBC upsert, Cassandra) stay plain appends —
they are idempotent by primary key, the reference's own model.
"""

from __future__ import annotations

import os
from typing import Any, Callable, Mapping

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from oracle_cassandra_migrator_spark.reliability.state import (
    LocalFSStateStore,
    StateStore,
)
from oracle_cassandra_migrator_spark.sinks.writers import (
    WRITE_PATH_FORMATS,
    write_file_idempotent,
    write_sink,
)


def start_foreach_batch(
    stream: DataFrame,
    apply: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    trigger: Mapping[str, Any] | None = None,
) -> StreamingQuery:
    """Start ``stream`` with ``apply`` as its foreachBatch function —
    the one stream starter every foreachBatch sink in this package
    uses. ``trigger`` is the ``DataStreamWriter.trigger`` keyword
    argument (e.g. ``{"processingTime": "10 seconds"}``); unset means
    ``availableNow``: drain what is there, then stop."""
    return (stream.writeStream.foreachBatch(apply)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(**(trigger or {"availableNow": True}))
            .start())


def consume_without_writing(batch_df: DataFrame) -> None:
    """Execute a replayed (already-marker-committed) micro-batch
    WITHOUT writing: a noop-format write that runs every partition.

    Returning early instead looks cheaper but is wrong twice over for
    stateful streams: (1) the stateful operators upstream of
    foreachBatch only update their state when the batch plan executes,
    so a skipped replay leaves the rebuilt state missing those
    batches' contributions and any LATER uncommitted batch computes
    windows/dedup state from a hole; (2) Spark 4.1's state-store
    commit validation detects exactly that (zero commits for a batch
    whose plan has state partitions) and fails the query. For
    stateless inputs the noop pass is one cheap scan."""
    batch_df.write.format("noop").mode("overwrite").save()


def make_idempotent_writer(
    sink_spec: Mapping[str, Any],
    marker_dir: str,
    state: StateStore | None = None,
):
    """The per-batch write function behind ``foreach_batch_sink``,
    exposed so other foreachBatch operators (streaming/enrich.py) can
    compose their own per-batch work with the same marker-committed
    exactly-once write, instead of re-implementing it. Marker check
    comes FIRST, so a replayed batch skips the caller's (lazy) plan
    entirely."""
    store = state or LocalFSStateStore()

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(marker_dir, f"batch-{batch_id}.marker")
        if store.exists(marker):
            # replayed batch: execute (feeds upstream state), skip write
            consume_without_writing(batch_df)
            return
        spec = dict(sink_spec)
        spec.setdefault("mode", "append")
        if spec.get("format", "parquet").lower() in WRITE_PATH_FORMATS:
            # crash between write and marker replays this batch: the
            # deterministic targets make the rewrite overwrite, not append
            write_file_idempotent(batch_df, f"batch-{batch_id:09d}", spec)
        else:
            write_sink(batch_df, spec)
        store.put_marker(marker)

    return write_batch


def foreach_batch_sink(
    stream: DataFrame,
    sink_spec: Mapping[str, Any],
    marker_dir: str,
    checkpoint_dir: str,
    state: StateStore | None = None,
) -> StreamingQuery:
    """Start the stream, writing each micro-batch through write_sink
    with marker-based idempotence."""
    return start_foreach_batch(
        stream, make_idempotent_writer(sink_spec, marker_dir, state),
        checkpoint_dir)

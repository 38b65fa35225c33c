"""Streaming keyed upsert — a continuously-maintained materialized
snapshot (the CDC "table mirror" pattern): each micro-batch of change
rows merges into the previous snapshot version by key, and readers
always see the latest *committed* version.

This is the streaming composition of two existing pieces:
``operators/merge.merge_upsert`` (anti-join + union — plain Spark's
MERGE INTO equivalent) inside ``foreachBatch``, with the same
marker-per-batch exactly-once discipline as
``streaming/sinks.foreach_batch_sink``. The reference pipeline's model
is full-reload (verizon_table_migration_Rakesh_filters.py:187-223);
this closes the ongoing-sync gap end-to-end: Kafka/CDC stream in,
queryable keyed snapshot out.

Version protocol (all through the StateStore, any Hadoop scheme):
``snapshot-v<batchId>`` directories, committed by a
``batch-<batchId>.marker``. A batch reads the LATEST COMMITTED version
(never its own uncommitted output), writes its successor, then drops
the marker. Replay, collision and crash handling is the shared
exactly-once protocol: see ``fingerprint.exactly_once_applier``.

State is bounded by the snapshot itself (no Spark state store usage —
the join runs as a batch job per trigger). At 100 TB the snapshot
rewrite is the cost; the documented optimizations are partitioning the
snapshot by a key hash and rewriting only partitions the batch
touches, or switching the sink to a table format (Delta/Iceberg) whose
MERGE does exactly that — the orchestration here is unchanged either
way.
"""

from __future__ import annotations

import posixpath
from typing import Any

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery

from oracle_cassandra_migrator_spark.operators.merge import merge_upsert
from oracle_cassandra_migrator_spark.reliability.state import (
    LocalFSStateStore,
    StateStore,
    _delete_path,
)
from oracle_cassandra_migrator_spark.streaming import fingerprint
from oracle_cassandra_migrator_spark.streaming.sinks import (
    start_foreach_batch,
)


def latest_snapshot(spark, base_dir: str,
                    state: StateStore | None = None) -> DataFrame | None:
    """The current committed snapshot, or None before the first
    commit. Readers must come through here: uncommitted version dirs
    (crash between write and marker) are invisible by construction."""
    store = state or LocalFSStateStore()
    tokens = fingerprint.committed_tokens(
        store, posixpath.join(base_dir, "markers"))
    if not tokens:
        return None
    return spark.read.parquet(
        posixpath.join(base_dir, f"snapshot-v{tokens[-1]}"))


def snapshot_at(spark, base_dir: str, batch_id: int,
                state: StateStore | None = None) -> DataFrame:
    """Time travel: the snapshot as of a specific COMMITTED batch.
    Every committed version stays on disk until explicitly vacuumed,
    so point-in-time reads (debugging a bad upsert, reproducing a
    training run's input) are a directory read away — the hand-rolled
    analog of a table format's VERSION AS OF. Raises on an
    uncommitted/unknown id rather than serving a half-written dir."""
    store = state or LocalFSStateStore()
    ids = [int(t) for t in fingerprint.committed_tokens(
        store, posixpath.join(base_dir, "markers"))]
    if batch_id not in ids:
        raise ValueError(
            f"batch {batch_id} is not a committed snapshot version "
            f"(committed: {ids})")
    return spark.read.parquet(
        posixpath.join(base_dir, f"snapshot-v{batch_id}"))


def foreach_batch_upsert(
    stream: DataFrame,
    base_dir: str,
    keys: list[str],
    order_by: list[str],
    checkpoint_dir: str,
    state: StateStore | None = None,
    trigger: dict[str, Any] | None = None,
    allow_missing: bool = False,
) -> StreamingQuery:
    """Maintain a keyed snapshot under ``base_dir`` from a stream of
    change rows. Within a batch the LAST change per key wins, ordered
    by ``order_by`` (must be a total order per key — e.g.
    [event_time, event_id] — or replays could pick a different
    winner); across batches later batches win by the merge itself.

    ``allow_missing`` opts into schema EVOLUTION: a restarted stream
    whose source gained (or dropped) a column null-fills the other
    side instead of failing. Off by default so a renamed/typo'd column
    in the change stream fails the batch loudly (ADVICE r8) rather
    than silently forking the snapshot into half-null columns."""
    def write_version(batch_df: DataFrame, batch_id: int,
                      below: list[str]) -> None:
        # last-writer-wins WITHIN the batch: max(struct(order_by, row))
        # per key — aggregation, not a window, so it map-side-combines
        ordered = F.struct(
            *[F.col(c) for c in order_by], F.struct("*").alias("__row"))
        winners = (batch_df.groupBy(*keys)
                   .agg(F.max(ordered).alias("__w"))
                   .select("__w.__row.*"))
        if below:
            current = batch_df.sparkSession.read.parquet(
                posixpath.join(base_dir, f"snapshot-v{below[-1]}"))
            merged = merge_upsert(current, winners, keys,
                                  allow_missing=allow_missing)
        else:
            merged = winners
        merged.write.mode("overwrite").parquet(
            posixpath.join(base_dir, f"snapshot-v{batch_id}"))

    apply = fingerprint.exactly_once_applier(
        state or LocalFSStateStore(), base_dir, write_version,
        "snapshot", "changes")
    return start_foreach_batch(stream, apply, checkpoint_dir, trigger)


def vacuum_snapshots(spark, base_dir: str, keep_last: int = 2,
                     state: StateStore | None = None) -> list[int]:
    """Retention: drop all but the newest ``keep_last`` committed
    versions, returning the vacuumed batch ids. Order of operations is
    the crash-safe one — data directory FIRST, marker LAST — so a
    crash mid-vacuum leaves either a fully readable version or an
    uncommitted orphan dir that readers already ignore; it can never
    leave a marker pointing at deleted data. ``keep_last`` must be
    >= 1 (the latest version is never vacuumed). Directory removal
    goes through the Hadoop FileSystem API so any scheme
    (file:/hdfs:/s3a:) works.

    Fingerprints of vacuumed batches are NOT deleted — they are what
    lets a vacuumed-marker replay be skipped exactly instead of
    writing an invisible snapshot. Their singles are merged into one
    JSON manifest here, so the ledger's file count follows the
    maintenance cadence."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    store = state or LocalFSStateStore()
    marker_dir = posixpath.join(base_dir, "markers")
    ids = [int(t)
           for t in fingerprint.committed_tokens(store, marker_dir)]
    doomed = ids[:-keep_last] if keep_last < len(ids) else []
    for bid in doomed:
        _delete_path(spark, posixpath.join(base_dir, f"snapshot-v{bid}"))
        store.delete(posixpath.join(marker_dir, f"batch-{bid}.marker"))
    if doomed:
        boundary = ids[-keep_last]
        fingerprint.compact_fingerprints(
            spark, store, base_dir,
            lambda bid: int(bid) < boundary, str(boundary))
    return doomed

"""Stream-static dimension enrichment.

The canonical streaming join shape the other modules don't cover: a
fact stream joined to a (comparatively small) dimension table. Spark
supports this natively with NO state store — each micro-batch joins
against the static side like any batch join, so unlike stream-stream
joins there is no watermark requirement and no unbounded state.

Two variants, differing in what "the dimension" means over time:

- :func:`enrich_stream_static` — the dim is a SNAPSHOT taken when the
  static DataFrame was created. Spark re-executes the static side's
  plan per micro-batch, but for file sources the file LISTING resolves
  when the DataFrame is built, so updates to the dim on disk are not
  reliably observed by a running query (and an overwrite can fail a
  batch outright with vanished files). Right for dims that are fixed
  for the lifetime of the query.
- :func:`refreshing_enrich_sink` — the dim is RE-LOADED inside
  foreachBatch, once per micro-batch, so every batch joins the current
  committed dim version (e.g. ``streaming/upsert.latest_snapshot`` —
  a slowly-changing dimension maintained by another stream). Composes
  with the marker-committed exactly-once writer from streaming/sinks,
  and the marker check runs BEFORE the dim load, so replayed batches
  cost nothing.

At 100 TB the fact side is the big one and it arrives micro-batch by
micro-batch; the dim is broadcast by default (an explicit
``F.broadcast``, not a size guess — dims that outgrow broadcast should
pass ``broadcast=False`` and let AQE pick a shuffled join per batch).
"""

from __future__ import annotations

import os
from typing import Any, Callable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from oracle_cassandra_migrator_spark.reliability.state import (
    LocalFSStateStore,
    StateStore,
)
from oracle_cassandra_migrator_spark.streaming.sinks import (
    consume_without_writing,
    make_idempotent_writer,
    start_foreach_batch,
)

# join types Spark supports with the STREAM on the left of a
# stream-static join; right/full outer would need unbounded state on
# the static side's unmatched keys and are rejected by Spark itself —
# we fail fast with a clearer message.
_STREAM_LEFT_JOINS = frozenset(
    {"inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi",
     "left_anti", "leftanti"})


def _checked(dim: DataFrame, how: str, broadcast: bool) -> DataFrame:
    if how.lower().replace(" ", "") not in _STREAM_LEFT_JOINS:
        raise ValueError(
            f"enrich: join type {how!r} is not supported with a stream "
            f"on the left; use one of {sorted(_STREAM_LEFT_JOINS)}")
    if dim.isStreaming:
        raise ValueError(
            "enrich: the dimension side must be a batch DataFrame — "
            "for two streams use interval_join_streams")
    return F.broadcast(dim) if broadcast else dim


def enrich_stream_static(
    stream: DataFrame,
    dim: DataFrame,
    on: Any,
    how: str = "left",
    broadcast: bool = True,
) -> DataFrame:
    """Join each micro-batch of ``stream`` to the static ``dim``
    snapshot. ``on`` is anything ``DataFrame.join`` accepts (column
    name, list, or a join Column). Works identically on a batch frame
    (the stream==batch parity tests run the same function on both).

    The dim is the snapshot the DataFrame was built from — see the
    module doc; use :func:`refreshing_enrich_sink` when the dim
    changes while the query runs."""
    return stream.join(_checked(dim, how, broadcast), on, how)


def refreshing_enrich_sink(
    stream: DataFrame,
    load_dim: Callable[[SparkSession], DataFrame],
    on: Any,
    sink_spec: Mapping[str, Any],
    marker_dir: str,
    checkpoint_dir: str,
    how: str = "left",
    broadcast: bool = True,
    state: StateStore | None = None,
) -> StreamingQuery:
    """Start ``stream``, enriching every micro-batch against a FRESH
    ``load_dim(spark)`` read and writing through the marker-committed
    exactly-once sink (streaming/sinks). ``load_dim`` runs once per
    micro-batch on the driver — point it at the dim's committed
    current version (a parquet dir, ``upsert.latest_snapshot``, a JDBC
    table); each batch then observes every dim update committed before
    that batch started, the standard slowly-changing-dimension
    enrichment contract."""
    store = state or LocalFSStateStore()
    write = make_idempotent_writer(sink_spec, marker_dir, store)

    def enrich_and_write(batch_df: DataFrame, batch_id: int) -> None:
        # marker check first: a replayed (already-committed) batch
        # must not pay the dim load
        marker = os.path.join(marker_dir, f"batch-{batch_id}.marker")
        if store.exists(marker):
            # replayed committed batch: execute without writing so the
            # upstream state (and Spark 4.1's state-commit validation)
            # still sees every partition — see sinks.consume_without_writing
            consume_without_writing(batch_df)
            return
        dim = _checked(load_dim(batch_df.sparkSession), how, broadcast)
        write(batch_df.join(dim, on, how), batch_id)

    return start_foreach_batch(stream, enrich_and_write, checkpoint_dir)

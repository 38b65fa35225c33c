"""Partitioned snapshot maintenance: the 100 TB upgrade of
streaming/upsert.py. The plain upsert REWRITES THE WHOLE SNAPSHOT
every micro-batch — correct, but O(snapshot) per trigger, which is
exactly what breaks first at scale. Here the snapshot is hash-bucketed
by key, each version directory contains ONLY the buckets its batch
touched, and a tiny JSON MANIFEST maps every bucket to the version
that last rewrote it — so a batch costs O(touched buckets), and a
point lookup needs one bucket. This is the minimal honest core of
what a table format (Delta/Iceberg) does for MERGE: manifest +
partial rewrite + snapshot isolation; swapping the sink to a real
table format keeps the orchestration unchanged.

Layout under ``base_dir`` (any Hadoop scheme):

- ``v<token>/bucket=<b>/*.parquet`` — only the buckets version
  <token> rewrote (``partitionBy`` dirs; data files carry data
  columns only).
- ``manifest-v<token>.json`` — ``{"n_buckets": N, "keys": [...],
  "owners": {"<b>": "<token>"}, "schema": "<DDL>"}``: the bucketing
  arity AND the exact key list/order (both validated on every
  write/compact/lookup — a different key order hashes differently,
  which would silently corrupt placement), plus, for every bucket
  with data, the version that currently owns it. ``schema`` is the
  table's evolving union schema: a batch may ADD columns (recorded
  append-only; readers project every bucket through it, so buckets
  written before the column null-fill — no mergeSchema footer sweep,
  no rewrite of untouched buckets), while a column re-appearing with
  a DIFFERENT type aborts the batch before any file lands. Manifests
  predating the field fall back to parquet inference.
- ``markers/batch-<token>.marker`` — the commit point (the
  upsert/rollup protocol; a manifest without its marker is an
  invisible orphan).

VERSION TOKENS: stream batches commit as their Spark batch id
(``"7"``), so a replayed batch deterministically overwrites its own
version — the property the rollup's non-idempotent delta merge needs.
Compactions commit as ``"<base>c<k>"`` (e.g. ``"7c1"``), which sorts
AFTER stream batch 7 and BEFORE batch 8: compaction never consumes a
future stream batch id, so a post-compaction micro-batch can never be
mistaken for a replay (that collision would silently discard data).

Replay, collision and crash handling is the shared exactly-once
protocol (``fingerprint.exactly_once_applier``); the version dir and
its manifest are both written before the marker, so a replay
deterministically overwrites both and readers resolve only committed
manifests. Read amplification (latest snapshot stitches buckets from
several versions) is bounded by ``compact_partitioned``; vacuum
deletes marker FIRST, then manifest, then data — a crash mid-vacuum
leaves invisible orphans, never a committed id whose manifest is
gone.

Reference parity: generalizes the reference's overwrite-everything
staging (verizon_table_migration_Rakesh_filters.py:187-223) into
partial rewrite, the same way pipeline.py generalized its
checkpointing.
"""

from __future__ import annotations

import json
import posixpath
from typing import Any, Callable

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery

from oracle_cassandra_migrator_spark.operators.merge import merge_upsert
from oracle_cassandra_migrator_spark.reliability.state import (
    LocalFSStateStore,
    StateStore,
    _delete_path,
    _read_text,
    _write_text,
)
from oracle_cassandra_migrator_spark.streaming import fingerprint
from oracle_cassandra_migrator_spark.streaming.fingerprint import (
    committed_tokens,
    token_key,
)
from oracle_cassandra_migrator_spark.streaming.sinks import (
    start_foreach_batch,
)

__all__ = [
    "foreach_batch_upsert_partitioned",
    "foreach_batch_rollup_partitioned",
    "make_upsert_applier",
    "make_rollup_applier",
    "latest_partitioned_snapshot",
    "lookup_keys",
    "compact_partitioned",
    "vacuum_partitioned",
]

def _manifest_path(base_dir: str, token: str) -> str:
    return posixpath.join(base_dir, f"manifest-v{token}.json")


def _read_manifest(spark, base_dir: str, token: str) -> dict:
    m = json.loads(_read_text(spark, _manifest_path(base_dir, token)))
    m["owners"] = {int(k): str(v) for k, v in m["owners"].items()}
    return m


def _write_manifest(spark, base_dir: str, token: str,
                    n_buckets: int, keys: list[str],
                    owners: dict[int, str],
                    schema_ddl: str | None = None) -> None:
    doc = {"n_buckets": n_buckets, "keys": list(keys),
           "owners": {str(k): v for k, v in owners.items()}}
    if schema_ddl is not None:
        doc["schema"] = schema_ddl
    _write_text(spark, _manifest_path(base_dir, token), json.dumps(doc))


def _schema_ddl(schema) -> str:
    """StructType -> DDL (StructField.toDDL is JVM-only; simpleString
    IS the DDL type)."""
    return ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)


def _evolved_schema_ddl(prev_ddl: str | None, merged_schema) -> str:
    """The table schema a manifest records: the previous manifest's
    fields (order preserved) plus any NEW fields this version's merge
    introduced, appended. Untouched buckets keep their old files; the
    recorded union schema is what readers project them through (parquet
    null-fills absent columns). A re-appearing field with a DIFFERENT
    type is placement-corrupting ambiguity and fails loudly."""
    from pyspark.sql.types import StructType

    if prev_ddl is None:
        return _schema_ddl(merged_schema)
    prev = StructType.fromDDL(prev_ddl)
    by_name = {f.name: f for f in prev.fields}
    out = list(prev.fields)
    for f in merged_schema.fields:
        old = by_name.get(f.name)
        if old is None:
            out.append(f)
        # compare the DDL rendering, not dataType equality: the DDL
        # round-trip drops nested containsNull/valueContainsNull, so
        # an array<bigint> built with containsNull=false must not
        # read as a type change of the recorded array<bigint>
        elif (old.dataType.simpleString()
              != f.dataType.simpleString()):
            raise ValueError(
                f"schema evolution type conflict on {f.name!r}: table "
                f"has {old.dataType.simpleString()}, batch brings "
                f"{f.dataType.simpleString()}")
    return ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in out)


def _manifest_schema(manifest: dict):
    """StructType from the manifest, or None for pre-evolution
    manifests (readers then fall back to plain parquet inference)."""
    from pyspark.sql.types import StructType

    ddl = manifest.get("schema")
    return StructType.fromDDL(ddl) if ddl else None


def _read_buckets(spark, manifest: dict, paths: list[str]) -> DataFrame:
    """Read version/bucket dirs projected through the manifest schema
    when recorded — buckets written before a column was added
    null-fill it — else plain inference (legacy manifests)."""
    st = _manifest_schema(manifest)
    reader = spark.read.schema(st) if st is not None else spark.read
    return reader.parquet(*paths)


def _check_manifest(manifest: dict, n_buckets: int | None,
                    keys: list[str]) -> None:
    """keys (exact order — a permutation hashes differently) and
    n_buckets are table constants; drift here silently corrupts
    placement, so both fail loudly."""
    if n_buckets is not None and manifest["n_buckets"] != n_buckets:
        raise ValueError(
            f"n_buckets mismatch: table has {manifest['n_buckets']}, "
            f"caller passed {n_buckets}")
    if list(manifest.get("keys", keys)) != list(keys):
        raise ValueError(
            f"bucketing keys mismatch: table was written with "
            f"{manifest['keys']}, caller passed {list(keys)}")


def _bucket_expr(keys: list[str], n_buckets: int) -> str:
    cols = ", ".join(keys)
    return f"CAST(pmod(xxhash64({cols}), {n_buckets}) AS INT)"


def _bucket_paths(base_dir: str, owners: dict[int, str],
                  buckets: list[int]) -> list[str]:
    return [posixpath.join(base_dir, f"v{owners[b]}", f"bucket={b}")
            for b in buckets if b in owners]


def latest_partitioned_snapshot(
        spark, base_dir: str,
        state: StateStore | None = None) -> DataFrame | None:
    """The committed snapshot, stitched bucket-by-bucket from the
    latest manifest. None before the first commit (or if the snapshot
    is empty). Readers never see uncommitted version dirs or
    manifests — commits are marker-gated, the upsert invariant."""
    store = state or LocalFSStateStore()
    tokens = committed_tokens(
        store, posixpath.join(base_dir, "markers"))
    if not tokens:
        return None
    manifest = _read_manifest(spark, base_dir, tokens[-1])
    owners = manifest["owners"]
    if not owners:
        return None
    paths = _bucket_paths(base_dir, owners, sorted(owners))
    return _read_buckets(spark, manifest, paths)


def lookup_keys(spark, base_dir: str, keys: list[str],
                values: list[tuple],
                state: StateStore | None = None) -> DataFrame | None:
    """Bucket-pruned point lookup: read ONLY the buckets the requested
    key tuples hash into (computed engine-side with the same
    xxhash64 expression the writer used — never reimplemented
    driver-side, so writer and reader can't drift) and filter to the
    exact keys. At any snapshot size the scan is |distinct buckets of
    the probe| bucket dirs — the serving-path payoff of the layout.
    None before the first commit / on an empty table; a probe whose
    buckets hold no data returns an EMPTY frame (same schema), not
    None."""
    store = state or LocalFSStateStore()
    tokens = committed_tokens(
        store, posixpath.join(base_dir, "markers"))
    if not tokens:
        return None
    manifest = _read_manifest(spark, base_dir, tokens[-1])
    _check_manifest(manifest, None, keys)
    owners = manifest["owners"]
    if not owners:
        return None
    if not values:
        # committed non-empty table, empty probe list: the documented
        # contract (None is reserved for no-table) — an empty frame
        # with the stored schema, same as a probe that misses
        any_path = _bucket_paths(base_dir, owners, sorted(owners))[0]
        return _read_buckets(spark, manifest, [any_path]).limit(0)
    probe = spark.createDataFrame(values, ", ".join(
        f"{k} {t}" for k, t in zip(
            keys, _probe_types(spark, base_dir, owners, keys,
                               manifest))))
    bexpr = _bucket_expr(keys, manifest["n_buckets"])
    buckets = sorted(r[0] for r in probe.selectExpr(f"{bexpr} AS b")
                     .distinct().collect())
    paths = _bucket_paths(base_dir, owners, buckets)
    if not paths:
        # committed table, but every probe bucket is empty: an empty
        # frame with the stored schema (None is reserved for
        # no-table), read from any owned bucket's footer
        any_path = _bucket_paths(base_dir, owners, sorted(owners))[0]
        return _read_buckets(spark, manifest, [any_path]).limit(0)
    snap = _read_buckets(spark, manifest, paths)
    return snap.join(F.broadcast(probe), keys, "left_semi")


def _probe_types(spark, base_dir: str, owners: dict[int, str],
                 keys: list[str],
                 manifest: dict | None = None) -> list[str]:
    """Key column DDL types, from the manifest schema when recorded
    (zero IO) else one existing bucket's footer, so the probe frame
    hashes identically to the stored keys (an INT probe against a
    BIGINT key column would xxhash64 differently)."""
    st = _manifest_schema(manifest) if manifest else None
    if st is None:
        first = _bucket_paths(base_dir, owners, sorted(owners))[0]
        st = spark.read.parquet(first).schema
    by_name = {f.name: f.dataType.simpleString() for f in st.fields}
    return [by_name[k] for k in keys]


def _partitioned_applier(
    base_dir: str,
    keys: list[str],
    n_buckets: int,
    store: StateStore,
    merge_fn: Callable[[DataFrame, DataFrame | None], DataFrame],
    batch_prep: Callable[[DataFrame], DataFrame],
):
    """The shared version/manifest write for both partitioned
    maintainers, inside the exactly-once protocol — one body, so a
    fix cannot land in one twin and miss the other. ``batch_prep``
    turns the raw batch into the frame that both picks the touched
    buckets and feeds ``merge_fn(prepped, current_or_None)``."""
    bexpr = _bucket_expr(keys, n_buckets)

    def write_version(batch_df: DataFrame, batch_id: int,
                      below: list[str]) -> None:
        token = str(batch_id)
        spark = batch_df.sparkSession
        # persisted: the touched-bucket collect AND the merge/write
        # both consume it — without this the batch aggregation and
        # source scan run twice per trigger
        prepped = batch_prep(batch_df).persist()
        try:
            if below:
                manifest = _read_manifest(spark, base_dir, below[-1])
                _check_manifest(manifest, n_buckets, keys)
                owners = manifest["owners"]
                prev_ddl = manifest.get("schema")
                if prev_ddl is None and owners:
                    # legacy pre-evolution manifest: recover the stored
                    # schema from the live buckets' footers ONCE (this
                    # batch's manifest records it) — else a narrow batch
                    # touching only unowned buckets would record ITS
                    # schema as the table's and silently hide columns
                    prev_ddl = _schema_ddl(spark.read.parquet(
                        *_bucket_paths(base_dir, owners,
                                       sorted(owners))).schema)
            else:
                manifest = {}
                owners = {}
                prev_ddl = None
            # bounded by n_buckets — a tiny, legal collect
            touched = sorted(
                r[0] for r in prepped.selectExpr(f"{bexpr} AS b")
                .distinct().collect())
            cur_paths = _bucket_paths(base_dir, owners, touched)
            current = (_read_buckets(spark, manifest, cur_paths)
                       if cur_paths else None)
            merged = merge_fn(prepped, current).persist()
            # validate/record schema evolution BEFORE any write: a
            # type conflict must abort with zero new files on disk
            schema_ddl = _evolved_schema_ddl(prev_ddl, merged.schema)
            try:
                present = {
                    r[0] for r in merged.selectExpr(f"{bexpr} AS b")
                    .distinct().collect()}
                (merged.withColumn("bucket", F.expr(bexpr))
                 .repartition("bucket")
                 .write.partitionBy("bucket").mode("overwrite")
                 .parquet(posixpath.join(base_dir, f"v{token}")))
            finally:
                merged.unpersist()
            new_owners = dict(owners)
            for b in touched:
                if b in present:
                    new_owners[b] = token
                else:
                    # a bucket can EMPTY (rollup group death): it
                    # writes no subdir and must leave the manifest, or
                    # readers would chase a nonexistent path
                    new_owners.pop(b, None)
            _write_manifest(spark, base_dir, token, n_buckets, keys,
                            new_owners, schema_ddl)
        finally:
            prepped.unpersist()

    return fingerprint.exactly_once_applier(
        store, base_dir, write_version, "partitioned", "changes")


def make_upsert_applier(
    base_dir: str,
    keys: list[str],
    order_by: list[str],
    n_buckets: int = 16,
    state: StateStore | None = None,
) -> Callable[[DataFrame, int], None]:
    """The upsert maintainer as a bare ``(batch_df, batch_id)``
    callable — what foreach_batch_upsert_partitioned hands to
    foreachBatch, exposed so tests (and batch backfills) can drive the
    protocol synchronously without streaming machinery."""
    store = state or LocalFSStateStore()

    def prep(batch_df: DataFrame) -> DataFrame:
        ordered = F.struct(
            *[F.col(c) for c in order_by], F.struct("*").alias("__row"))
        return (batch_df.groupBy(*keys)
                .agg(F.max(ordered).alias("__w"))
                .select("__w.__row.*"))

    def merge(winners: DataFrame,
              current: DataFrame | None) -> DataFrame:
        if current is None:
            return winners
        # evolution-supporting path: column evolution is this
        # applier's FEATURE (the manifest carries the union schema and
        # _evolved_schema_ddl rejects TYPE conflicts on shared names).
        # Name drift is accepted as evolution by design here — a
        # caller who wants name-strict merging uses the plain
        # foreach_batch_upsert, whose default refuses drift.
        return merge_upsert(current, winners, keys, allow_missing=True)

    return _partitioned_applier(
        base_dir, keys, n_buckets, store, merge, prep)


def foreach_batch_upsert_partitioned(
    stream: DataFrame,
    base_dir: str,
    keys: list[str],
    order_by: list[str],
    checkpoint_dir: str,
    n_buckets: int = 16,
    state: StateStore | None = None,
    trigger: dict[str, Any] | None = None,
) -> StreamingQuery:
    """Maintain a hash-bucketed keyed snapshot from a stream of change
    rows: per batch, last-change-per-key wins (ordered by
    ``order_by``), ONLY the buckets the batch's keys hash into are
    read, merged, and rewritten — every other bucket is carried
    forward by manifest reference, untouched on disk. ``n_buckets``
    and the key list are fixed at table creation (asserted against
    the manifest on every batch; re-bucketing is a new table)."""
    apply = make_upsert_applier(
        base_dir, keys, order_by, n_buckets=n_buckets, state=state)
    return start_foreach_batch(stream, apply, checkpoint_dir, trigger)


def make_rollup_applier(
    base_dir: str,
    keys: list[str],
    new_expr: str,
    old_expr: str,
    n_buckets: int = 16,
    n_col: str = "n",
    sum_col: str = "s",
    op_col: str = "op",
    state: StateStore | None = None,
) -> Callable[[DataFrame, int], None]:
    """The rollup maintainer as a bare ``(batch_df, batch_id)``
    callable (see make_upsert_applier)."""
    from oracle_cassandra_migrator_spark.operators.incremental import (
        cdc_to_group_deltas,
        maintain_sum_count,
    )

    store = state or LocalFSStateStore()

    def prep(batch_df: DataFrame) -> DataFrame:
        return cdc_to_group_deltas(
            batch_df, keys, new_expr, old_expr, op_col=op_col)

    def merge(deltas: DataFrame,
              current: DataFrame | None) -> DataFrame:
        if current is None:
            base = (deltas.selectExpr(
                *keys, f"CAST(d_n AS BIGINT) AS {n_col}",
                f"CAST(d_sum AS DECIMAL(38,0)) AS {sum_col}")
                .limit(0))
        else:
            base = current
        return maintain_sum_count(
            base, deltas, keys, n_col=n_col, sum_col=sum_col)

    return _partitioned_applier(
        base_dir, keys, n_buckets, store, merge, prep)


def foreach_batch_rollup_partitioned(
    stream: DataFrame,
    base_dir: str,
    keys: list[str],
    new_expr: str,
    old_expr: str,
    checkpoint_dir: str,
    n_buckets: int = 16,
    n_col: str = "n",
    sum_col: str = "s",
    op_col: str = "op",
    state: StateStore | None = None,
    trigger: dict[str, Any] | None = None,
) -> StreamingQuery:
    """Partitioned twin of streaming/rollup.py: maintain a (count,
    sum) GROUP BY from a CDC stream, rewriting ONLY the group-buckets
    the batch's deltas touch. Per batch the work is O(|batch| +
    touched-bucket group rows) — the full rollup merge is already
    O(groups); this removes even that when group cardinality is huge
    (per-user / per-document rollups) and the batch is narrow. Same
    manifest/marker protocol, so latest_partitioned_snapshot,
    compact_partitioned and vacuum_partitioned work on rollup tables
    unchanged; groups whose count returns to 0 drop out of their
    bucket's rewrite (and an emptied bucket leaves the manifest)."""
    apply = make_rollup_applier(
        base_dir, keys, new_expr, old_expr, n_buckets=n_buckets,
        n_col=n_col, sum_col=sum_col, op_col=op_col, state=state)
    return start_foreach_batch(stream, apply, checkpoint_dir, trigger)


def compact_partitioned(spark, base_dir: str,
                        state: StateStore | None = None) -> str:
    """Maintenance compaction: rewrite EVERY live bucket into one new
    version so reads stop stitching old versions and vacuum can
    reclaim them. The version token is ``"<base>c<k>"`` — OUTSIDE the
    stream's batch-id namespace, so compaction can never squat on a
    future micro-batch's id (which would make that batch read as a
    replay and silently discard its data). Bucketing keys come from
    the manifest (never passed in — a wrong key order would re-bucket
    every row). Same write-then-marker commit discipline; a crashed
    compaction is an invisible orphan and a rerun deterministically
    overwrites it. Returns the new token."""
    store = state or LocalFSStateStore()
    marker_dir = posixpath.join(base_dir, "markers")
    tokens = committed_tokens(store, marker_dir)
    if not tokens:
        raise ValueError("nothing to compact: no committed versions")
    manifest = _read_manifest(spark, base_dir, tokens[-1])
    owners = manifest["owners"]
    keys = manifest["keys"]
    base, suf = token_key(tokens[-1])
    new_token = f"{base}c{suf + 1}"
    if owners:
        current = _read_buckets(
            spark, manifest,
            _bucket_paths(base_dir, owners, sorted(owners)))
        bexpr = _bucket_expr(keys, manifest["n_buckets"])
        (current.withColumn("bucket", F.expr(bexpr))
         .repartition("bucket")
         .write.partitionBy("bucket").mode("overwrite")
         .parquet(posixpath.join(base_dir, f"v{new_token}")))
        new_owners = {b: new_token for b in owners}
    else:
        new_owners = {}
    # compaction NORMALIZES every bucket to the recorded schema (old
    # buckets re-written with null-filled late columns), then carries
    # the schema forward (recovering it from the stitched read for
    # legacy pre-evolution manifests)
    schema_ddl = manifest.get("schema")
    if schema_ddl is None and owners:
        schema_ddl = _schema_ddl(current.schema)
    _write_manifest(spark, base_dir, new_token, manifest["n_buckets"],
                    keys, new_owners, schema_ddl)
    store.put_marker(
        posixpath.join(marker_dir, f"batch-{new_token}.marker"))
    return new_token


def vacuum_partitioned(spark, base_dir: str, keep_last: int = 2,
                       state: StateStore | None = None) -> list[str]:
    """Retention with reference counting: keep the last ``keep_last``
    committed manifests, then delete every version that no kept
    manifest references (a version may be older than the kept window
    yet still own live buckets — it survives until compaction).
    Deletion order per doomed version is marker FIRST, then manifest,
    then data: a crash mid-vacuum leaves invisible orphan files, never
    a committed id whose manifest has been deleted (which would wedge
    every later vacuum/read)."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    store = state or LocalFSStateStore()
    marker_dir = posixpath.join(base_dir, "markers")
    tokens = committed_tokens(store, marker_dir)
    kept = tokens[-keep_last:]
    referenced: set[str] = set()
    for t in kept:
        referenced.update(
            _read_manifest(spark, base_dir, t)["owners"].values())
    doomed = [t for t in tokens[:-keep_last] if t not in referenced]
    for tok in doomed:
        store.delete(
            posixpath.join(marker_dir, f"batch-{tok}.marker"))
        _delete_path(spark, _manifest_path(base_dir, tok))
        _delete_path(spark, posixpath.join(base_dir, f"v{tok}"))
    if doomed and kept:
        # fingerprints of vacuumed tokens survive (they decide
        # vacuumed-marker replays exactly); merge their singles into
        # one manifest so the ledger follows the maintenance cadence
        boundary = kept[0]
        fingerprint.compact_fingerprints(
            spark, store, base_dir,
            lambda bid: token_key(bid) < token_key(boundary),
            boundary)
    return doomed

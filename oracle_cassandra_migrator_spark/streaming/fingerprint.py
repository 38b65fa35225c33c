"""The exactly-once commit protocol of the state-maintaining
foreachBatch sinks (``upsert``, ``rollup``, both ``partitioned``
twins, ``annmaintain``, ``neardedup``) and its per-batch
CONTENT-FINGERPRINT ledger: the identity that decides "true replay of
a committed batch" vs "fresh-checkpoint run reusing a committed batch
id" EXACTLY, instead of by silent marker-skip (which swallows the
colliding run's data) or by re-execution heuristics (whose admission
idempotence is band-cap-dependent — review r10).
``exactly_once_applier`` is the protocol itself, one body for every
sink but ``neardedup``, which keeps its own frame (see its
``foreach_batch_near_dedup``) around the same ledger.

Ledger layout under ``<base_dir>/fingerprints/``:

- ``fp-<batch_id>-<fp>.marker`` — one zero-byte single per committed
  batch, written AFTER the batch's commit marker so its presence
  PROVES the batch (data + marker) fully committed. Lookup is a
  direct O(1) ``exists`` — never a listing in the per-batch hot path.
- ``manifest-<token>.json`` — vacuum-time merge of singles (plus any
  prior manifests) into one JSON object ``{batch_id: fp}``, so the
  ledger's file count is bounded by the MAINTENANCE cadence, not the
  batch cadence. Manifests are read only on replay/collision paths.
  A truncated manifest (crash mid-write) is skipped by readers: its
  entries' singles are deleted only after a successful write, so they
  are still present and the next vacuum re-merges them.

The fingerprint is order- and partitioning-independent and
multiset-exact: two independent xxhash64 streams over the chosen
columns, summed in exact DECIMAL (XOR would cancel duplicated rows)
and folded mod 2^64, plus the row count. Computing it is one map-side
aggregate job per micro-batch — a full execution of the batch plan,
so it also satisfies the contract behind
``sinks.consume_without_writing``: stateful operators upstream of
foreachBatch still update their state and Spark 4.1's state-commit
validation still sees every batch consumed, with no separate noop
pass.

Scope — deliberately NOT applied to the pass-through sinks
(``sinks.foreach_batch_sink`` / ``enrich.py``): those commonly sit
DOWNSTREAM of Spark's own stateful operators (windowed aggregations),
where the frame delivered for a given batch id is a function of
watermark/state history — a fresh-checkpoint recovery run (the
documented, test-pinned pattern in
``test_replayed_batches_still_feed_state``) legitimately re-delivers
DIFFERENT content under a reused id, so fingerprint equality would
misread recovery as collision. The state-maintaining sinks this
ledger guards (neardedup, upsert, rollup, the partitioned twins,
annmaintain) ARE the stateful operator: their foreachBatch receives the raw
source/CDC batch, which Spark re-delivers byte-identically on every
true replay — content identity is exactly the right discriminator.
"""

from __future__ import annotations

import json
import posixpath
import re
from typing import Callable, Iterable

from pyspark.sql import DataFrame, functions as F

from oracle_cassandra_migrator_spark.reliability.state import (
    StateStore,
    _read_text,
    _write_text,
)

# Fingerprint ALGORITHM version, embedded as the fp string's first
# segment. If the algorithm ever changes again, bump this: entries
# recorded under a DIFFERENT version are treated as "legacy" (fall
# back to the sink's pre-ledger behavior), never as a collision — an
# unversioned change would make every committed entry mismatch its own
# true replay after an upgrade and wedge resumed streams with a false
# collision error (review r10).
FP_VERSION = "v1"


def batch_fingerprint(batch_df: DataFrame,
                      cols: Iterable[str] | None = None) -> str:
    """``"{count}-{sum1:016x}-{sum2:016x}"`` over ``cols`` (default:
    every column, sorted by name for schema-order independence).
    Sinks that key their semantics on a column subset (the near-dedup
    gate reads only id + text; the rollup only its op/keys/images)
    pass that subset, so payload columns the sink ignores cannot flip
    a true replay into a collision.

    Each column is PRE-HASHED separately before the row hash: Spark's
    variadic ``xxhash64`` SKIPS null arguments entirely, so hashing
    raw columns would collide rows whose values swap between
    same-typed columns via NULLs — (new=10, old=NULL) vs (new=NULL,
    old=10) produce the identical non-null stream, and a semantically
    opposite batch would be misread as a true replay and silently
    dropped (review r10, confirmed empirically). A per-column
    ``xxhash64`` maps NULL to the never-null seed constant, anchoring
    every column position in the outer hash. Map/variant columns
    (which ``xxhash64`` refuses) go through ``to_json`` first —
    deterministic across replays, which re-deliver identical bytes."""
    cols = sorted(batch_df.columns) if cols is None else list(cols)
    dtypes = dict(batch_df.dtypes)
    per_col = []
    for c in cols:
        col = F.col(c)
        dt = dtypes.get(c, "")
        # xxhash64 refuses MAP/VARIANT at ANY nesting depth
        # (struct<..map<..>>, array<map<..>>), so the substring check
        # is deliberate, not just a top-level type test
        if "map<" in dt or "variant" in dt:
            col = F.to_json(col)
        per_col.append(F.xxhash64(col))
    h1 = F.xxhash64(*per_col)
    h2 = F.xxhash64(F.lit("fp2"), *reversed(per_col))
    row = (batch_df
           .select(h1.alias("h1"), h2.alias("h2"))
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.col("h1").cast("decimal(38,0)")).alias("s1"),
                F.sum(F.col("h2").cast("decimal(38,0)")).alias("s2"))
           .collect()[0])
    n = int(row["n"])
    if n > 0 and (row["s1"] is None or row["s2"] is None):
        # a decimal(38,0) SUM over non-zero rows can only be NULL via
        # non-ANSI overflow (~1e19 rows); coercing it to 0 would mint a
        # degenerate fingerprint that misreads later content — fail
        # loudly instead (ADVICE r10)
        raise RuntimeError(
            "batch_fingerprint: hash-sum overflowed to NULL over "
            f"{n} rows — cannot mint a sound fingerprint")
    s1 = int(row["s1"] or 0) % (1 << 64)
    s2 = int(row["s2"] or 0) % (1 << 64)
    return f"{FP_VERSION}-{n}-{s1:016x}-{s2:016x}"


def fp_dir(base_dir: str) -> str:
    return posixpath.join(base_dir, "fingerprints")


def fp_key(base_dir: str, batch_id, fp: str) -> str:
    return posixpath.join(fp_dir(base_dir), f"fp-{batch_id}-{fp}.marker")


def _manifests(spark, store: StateStore, base_dir: str) -> dict:
    """Union of all fingerprint manifests ({batch_id str: fp})."""
    out: dict = {}
    for key in store.list(fp_dir(base_dir), suffix=".json"):
        text = _read_text(spark, key)  # IO errors PROPAGATE: silently
        # treating a transient read failure as "no ledger" would
        # degrade a detectable collision into the silent swallow the
        # ledger exists to refuse — let the batch fail and retry
        try:
            out.update(json.loads(text))
        except ValueError:
            # truncated manifest (crash mid-write): its entries'
            # singles were deleted only AFTER a successful write, so
            # they are still present and the next vacuum re-merges
            # them — skipping is self-healing, not lossy
            continue
    return out


def decide_replay(spark, store: StateStore, base_dir: str, batch_id,
                  fp: str, collision_msg: str) -> str:
    """The sinks' shared three-way replay decision at a committed
    marker or a stale (vacuumed) batch id: ``"skip"`` — the exact
    content is in the ledger, a true replay; raises RuntimeError with
    ``collision_msg`` — a fingerprint exists for this id but differs,
    a fresh-checkpoint run reusing the id; ``"legacy"`` — no
    current-version ledger entry at all (pre-ledger state, or one
    recorded under an older ``FP_VERSION``), the caller preserves its
    pre-ledger behavior. One body so the protocol cannot drift
    between the sinks (review r10) — this is deliberately the ONLY
    reader of the ledger (ADVICE r10: the committed/any-entry helper
    pair it once shadowed duplicated these rules and is gone). Single
    IO pass: one ``exists``, then at most one singles listing and one
    manifest read."""
    if store.exists(fp_key(base_dir, batch_id, fp)):
        return "skip"
    prefix = f"fp-{batch_id}-{FP_VERSION}-"
    for key in store.list(fp_dir(base_dir), suffix=".marker"):
        if posixpath.basename(key).startswith(prefix):
            # a current-version single for this id exists but the
            # exact (id, fp) key does not: different content
            raise RuntimeError(collision_msg)
    entry = _manifests(spark, store, base_dir).get(str(batch_id))
    if entry == fp:
        return "skip"
    if entry is not None and entry.startswith(FP_VERSION + "-"):
        raise RuntimeError(collision_msg)
    return "legacy"


def compact_fingerprints(spark, store: StateStore, base_dir: str,
                         is_below: Callable[[str], bool],
                         token: str) -> None:
    """Vacuum-time ledger compaction: merge singles whose batch id
    satisfies ``is_below`` (the sink's retention boundary, e.g. below
    the latest compaction token) plus all prior manifests into
    ``manifest-<token>.json``, then delete the merged files. Write
    FIRST, delete after: a crash leaves duplicates, never losses."""
    merged = _manifests(spark, store, base_dir)
    old_manifests = store.list(fp_dir(base_dir), suffix=".json")
    merged_singles = []
    for key in store.list(fp_dir(base_dir), suffix=".marker"):
        name = posixpath.basename(key)
        # fp-<id>-<version>-<count>-<hex>-<hex>.marker: the fp string
        # carries FP_VERSION as its first segment, so split('-', 2)
        # yields it intact as the manifest value
        _, bid, fp = name[:-len(".marker")].split("-", 2)
        if is_below(bid):
            merged[bid] = fp
            merged_singles.append(key)
    if not merged:
        return
    new_name = f"manifest-{token}.json"
    _write_text(spark, posixpath.join(fp_dir(base_dir), new_name),
                json.dumps(merged))
    for key in merged_singles:
        store.delete(key)
    for key in old_manifests:
        # compare by basename: list() may return scheme-qualified URIs
        # while the new manifest was written under a plain path
        if posixpath.basename(key) != new_name:
            store.delete(key)


_TOKEN_MARKER_RE = re.compile(r"batch-(\d+(?:c\d+)?)\.marker$")


def token_key(tok: str) -> tuple[int, int]:
    """Sort key of a version token: stream batch "7" = (7, 0);
    compaction "7c2" = (7, 2) — after its base batch, before the next
    one, so compaction never squats on a future micro-batch's id."""
    base, _, suf = tok.partition("c")
    return (int(base), int(suf) if suf else 0)


def committed_tokens(store: StateStore, marker_dir: str) -> list[str]:
    """Committed version tokens (``batch-<token>.marker`` under
    ``marker_dir``), in commit order."""
    out = []
    for key in store.list(marker_dir, suffix=".marker"):
        m = _TOKEN_MARKER_RE.search(key)
        if m:
            out.append(m.group(1))
    return sorted(out, key=token_key)


def collision_message(state_label: str, noun: str, base_dir: str,
                      batch_id, latest: str | None = None) -> str:
    """The refusal text for a fresh-checkpoint run reusing a batch id:
    at a committed marker (``latest`` None) or at a stale id below the
    ``latest`` committed token. ``noun`` names what the sink would
    lose ("changes", "deltas", "appends", "admissions")."""
    if latest is None:
        what = (f"batch {batch_id} carries a committed marker at "
                f"{base_dir!r} but its content fingerprint does not "
                "match the committed one — a fresh-checkpoint run is "
                "reusing a committed batch id over the same base_dir, "
                f"and skipping it would silently drop its {noun}.")
    else:
        what = (f"{state_label} state at {base_dir!r} is committed "
                f"through token {latest!r}, but this stream is writing "
                f"batch {batch_id} with DIFFERENT content than "
                "originally committed there — a fresh-checkpoint run "
                f"over the same base_dir. Its {noun} would land in a "
                "version invisible to readers and reclaimed by the "
                "next vacuum (silent data loss).")
    return (what + " Resume the original checkpoint, use a new "
            "base_dir, or clear the state first.")


def exactly_once_applier(
    store: StateStore,
    base_dir: str,
    write_version: Callable[[DataFrame, int, list[str]], bool | None],
    state_label: str,
    noun: str,
    project: Callable[[DataFrame], DataFrame] | None = None,
    stale_legacy_writes: bool = True,
) -> Callable[[DataFrame, int], None]:
    """The exactly-once commit protocol, as the ``(batch_df,
    batch_id)`` callable ``foreachBatch`` takes. The sink's versions
    live under ``base_dir``, one per token (the batch id, or a
    compaction's ``"<base>c<k>"``); ``markers/batch-<token>.marker``
    commits a version, and readers resolve committed tokens only, so a
    batch never reads its own uncommitted output. Per micro-batch:

    1. The batch is persisted for the whole call: the fingerprint job
       materializes the cache, and the version write reads it instead
       of re-running the source scan and upstream transforms (pinned
       by tests/test_fingerprint_scan_once.py).
    2. ``batch_fingerprint`` over ``project(batch_df)`` (the whole
       batch when ``project`` is None). Sinks that read only some
       columns project to them, so a payload column they ignore can
       neither flip a true replay into a collision nor break hashing.
       This aggregate job is also the batch consumption Spark's
       stateful operators upstream need on every skip path below.
    3. Marker already committed: ``decide_replay``. A true replay is
       skipped; a pre-ledger ("legacy") marker keeps the old skip;
       different content under the id is refused with RuntimeError.
    4. Stale id, below the latest committed token: a version written
       there would be invisible to readers and reclaimed by the next
       vacuum. A true replay whose marker was vacuumed is skipped (its
       effect lives on in every later version); new content is
       refused; a legacy id writes and commits its (deterministic,
       invisible) version when ``stale_legacy_writes``, the
       pre-ledger behavior, and is skipped otherwise.
    5. ``write_version(batch_df, batch_id, below)`` writes the version;
       ``below`` is the committed tokens under this batch's, in commit
       order (the last is the predecessor to merge into). It returns
       False when there is nothing to commit.
    6. Commit: the marker FIRST, then the fingerprint single, so a
       single's presence proves its batch (data and marker) committed —
       the invariant step 4's skip relies on.

    Crash and replay, case by case:

    - Crash before the marker: Spark re-delivers the identical batch,
      which recomputes from the same predecessor and overwrites its
      own version; the half-written version was never readable.
    - Crash between the marker and the fingerprint (the one residual
      hole): the id is marker-committed but ledger-less, "legacy" for
      good, so a later fresh-checkpoint collision at that id is skipped
      silently, like pre-ledger state. Deliberate: healing the ledger
      from a replay's own content could record a COLLIDING run's
      fingerprint and wedge the original checkpoint's true replay
      (streaming/neardedup.py's marker-hit comment; ADVICE r10)."""
    marker_dir = posixpath.join(base_dir, "markers")

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            _apply_once(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    def _apply_once(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        token = str(batch_id)
        marker = posixpath.join(marker_dir, f"batch-{token}.marker")
        fp = batch_fingerprint(
            batch_df if project is None else project(batch_df))
        if store.exists(marker):
            decide_replay(spark, store, base_dir, token, fp,
                          collision_message(state_label, noun, base_dir,
                                            batch_id))
            return
        committed = committed_tokens(store, marker_dir)
        if committed and token_key(token) < token_key(committed[-1]):
            decision = decide_replay(
                spark, store, base_dir, token, fp,
                collision_message(state_label, noun, base_dir, batch_id,
                                  committed[-1]))
            if decision == "skip" or not stale_legacy_writes:
                return
        below = [t for t in committed if token_key(t) < token_key(token)]
        if write_version(batch_df, batch_id, below) is False:
            return
        store.put_marker(marker)
        store.put_marker(fp_key(base_dir, token, fp))

    return apply

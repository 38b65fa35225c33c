"""Streaming NEAR-duplicate admission: MinHash-LSH dedup as a
continuously-fed gate.

``streaming/stateful.py`` ships the EXACT-duplicate admission stream
(sharded bloom fingerprints). This module closes the near-dup half:
every micro-batch is checked — by MinHash signature estimate — against
everything admitted so far, and only sufficiently-novel documents pass.
The ingestion-time shape of corpus curation: dedup the firehose before
it lands, instead of re-running corpus-wide LSH nightly.

Semantics (documented, deliberately admission-style):
- WITHIN a batch: a doc is dropped if its signature-estimated Jaccard
  against a SMALLER-id doc in the same batch reaches the threshold
  (min-id-wins, non-transitive — the arrival-order analog; corpus-wide
  transitive clustering remains the batch ``dedup_cluster_components``
  job's business).
- ACROSS batches: a doc is dropped if any already-ADMITTED doc
  estimates as a near-dup. Dropped docs never enter the state, so the
  state grows with the ADMITTED (novel) corpus only.
- Verification is the k-component SIGNATURE ESTIMATE (share of equal
  minhash components), not exact Jaccard: the admitted docs' shingle
  sets are gone — only their k-integer signatures persist. That is the
  standard streaming trade (state is k integers + bands rows per
  admitted doc, never text), and the estimator's error contract is
  exactly the one ``dedup_minhash_estimate_audit`` pins in batch.

State layout under ``base_dir`` (both append-only parquet, committed
with the same marker-per-batch exactly-once discipline as
``streaming/upsert.py`` — replays of a committed batch are no-ops,
decided EXACTLY by a per-batch content fingerprint ledger under
``fingerprints/``: zero-byte ``fp-<id>-<fp>.marker`` singles, merged
into one JSON manifest per vacuum):
- ``sigs``:  (doc_id, m0..m{k-1}, n_sh) — one row per admitted doc.
- ``bands``: (doc_id, band_idx, band_key) — the LSH index the probe
  side equi-joins. The probe's scale shape: the micro-batch side is
  small (trigger-bounded) so AQE broadcasts it and the state streams
  through map-side — the state is SCANNED but never SHUFFLED per
  batch; compaction rewrites the state hash-partitioned on band_key,
  which clusters each band key into one file's min/max range for
  row-group pruning on skewed probes.

Scale shape per batch: the batch computes signatures in one pass
(map-side aggregation over exploded shingles), the state probe is a
(band_idx, band_key) equi-join against the bands table — candidates,
never all-pairs — and the admit append writes |admitted| rows. No
corpus rescan, no per-batch state rewrite (append-only + markers).
The append-only growth is bounded by MAINTENANCE compaction
(``compact_near_dedup`` + ``vacuum_near_dedup``): at firehose scale
the version/file COUNT, not the data, becomes the read bottleneck —
compaction rewrites the live state into one ``<base>c<k>`` version
(same token protocol as ``streaming/partitioned.py``) with
byte-identical admission decisions, and vacuum reclaims the rest.
"""

from __future__ import annotations

import posixpath
from typing import Any

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery

from oracle_cassandra_migrator_spark.operators.dedup import (
    HASH_A,
    HASH_B,
    HASH_P,
    LSH_BANDS,
    LSH_MAX_BAND_SIZE,
    LSH_ROWS,
    BASE_HASH_SPARK,
    with_shingles,
)
from oracle_cassandra_migrator_spark.reliability.state import (
    LocalFSStateStore,
    StateStore,
    _delete_path,
)
from oracle_cassandra_migrator_spark.streaming import fingerprint
from oracle_cassandra_migrator_spark.streaming.fingerprint import (
    committed_tokens,
    token_key,
)
from oracle_cassandra_migrator_spark.streaming.sinks import (
    start_foreach_batch,
)

K = LSH_BANDS * LSH_ROWS


def batch_signatures(df: DataFrame, text_col: str, id_col: str,
                     n: int = 3) -> DataFrame:
    """(id, m0..m{K-1}, n_sh) signature table for one batch — the same
    hash family as the batch operators, so stream and batch estimates
    agree bit-for-bit.

    Zero-shingle docs (fewer than ``n`` words) are NOT dropped: a doc
    with no shingles cannot be a near-dup of anything, so the gate
    must admit it, not lose it (ADVICE r7). They carry a per-doc
    SENTINEL signature — the full 64-bit xxhash64(id) folded into the
    strictly-negative range — the same value in every component: real
    minhash components live in [0, P) so a sentinel never equals one
    (the estimate vs any real doc is 0), and distinct ids get distinct
    band keys so zero-shingle docs never become candidates of each
    other either, up to a 2^-63-per-pair full-width collision
    (negligible even against a 100 TB admitted state — the earlier
    mod-P fold left a 2^-31 birthday exposure there)."""
    # r12: signatures are per-row array folds (array_min over the
    # hashed shingle array) instead of explode_outer + K-function
    # groupBy — identical values from the same hash family
    # (min over the same multiset; empty array -> NULL -> sentinel,
    # exactly like min-of-no-rows did), but the per-trigger
    # batch-sized signature shuffle disappears. Mirrors the batch
    # operators' r12 restructure so stream and batch stay the same
    # arithmetic.
    shingled = with_shingles(df.select(id_col, text_col), text_col, n)
    hashed = shingled.select(
        F.col(id_col), F.expr("size(shingles)").alias("n_sh"),
        F.expr(f"transform(shingles, sh -> {BASE_HASH_SPARK})").alias("hs"))
    h = F.xxhash64(F.col(id_col).cast("string"))
    # bijective fold of the full 64-bit hash into the negatives:
    # h >= 0 -> -h - 1, h < 0 -> h (never overflows, always < 0)
    sentinel = F.when(h >= 0, -h - F.lit(1)).otherwise(h)
    return hashed.select(
        F.col(id_col),
        *[F.coalesce(
            F.expr(f"array_min(transform(hs, h -> "
                   f"({HASH_A[i]} * (h % {HASH_P}) + {HASH_B[i]})"
                   f" % {HASH_P}))"),
            sentinel).alias(f"m{i}") for i in range(K)],
        "n_sh")


def band_rows(sig: DataFrame, id_col: str) -> DataFrame:
    """(id, band_idx, band_key) long-form LSH index rows."""
    band_keys = [
        F.md5(F.concat_ws(
            ":", *[F.col(f"m{b * LSH_ROWS + r}") for r in range(LSH_ROWS)]))
        .alias(f"b{b}")
        for b in range(LSH_BANDS)
    ]
    return (sig.select(F.col(id_col), *band_keys)
            .select(F.col(id_col),
                    F.posexplode(F.array(
                        *[F.col(f"b{i}") for i in range(LSH_BANDS)]))
                    .alias("band_idx", "band_key")))


def _estimate_ge(threshold: float, a: str = "am", b: str = "bm") -> str:
    """SQL predicate: signature-estimated Jaccard >= threshold. The
    estimate is (# equal components) / K; ceil once driver-side so the
    comparison is pure integers."""
    import math

    need = math.ceil(threshold * K - 1e-9)
    eq_terms = " + ".join(
        f"CASE WHEN {a}{i} = {b}{i} THEN 1 ELSE 0 END" for i in range(K))
    return f"({eq_terms}) >= {need}"


def admit_batch(batch_df: DataFrame, state_sigs: DataFrame | None,
                state_bands: DataFrame | None, text_col: str,
                id_col: str, n: int = 3, threshold: float = 0.5,
                max_band_size: int | None = LSH_MAX_BAND_SIZE):
    """Pure (no-IO) admission step: returns (admitted_sigs,
    admitted_bands) for one batch against the given state. Exposed
    separately so the pytest can replay identical batches in plain
    batch mode — the stream==batch parity contract."""
    sig = batch_signatures(batch_df, text_col, id_col, n)
    bands = band_rows(sig, id_col)
    est_ab = _estimate_ge(threshold)

    # within-batch: drop docs whose estimate reaches threshold vs a
    # smaller id (min-id-wins admission). The self-join gets the SAME
    # band-size cap as the cross-batch state probe below (ADVICE r7):
    # a degenerate batch where thousands of docs share one band key
    # (identical boilerplate) must stay candidate-bounded, not go
    # quadratic in batch size.
    if max_band_size is not None:
        from pyspark.sql.window import Window

        wb = Window.partitionBy("band_idx", "band_key")
        bands = (bands.withColumn("__n", F.count("*").over(wb))
                 .where(F.col("__n") <= max_band_size).drop("__n"))
    cand_a = bands.select(F.col(id_col).alias("ida"), "band_idx",
                          "band_key")
    cand_b = bands.select(F.col(id_col).alias("idb"), "band_idx",
                          "band_key")
    cand = (cand_a.join(cand_b, ["band_idx", "band_key"])
            .where("ida < idb").select("ida", "idb").distinct())
    siga = sig.select(F.col(id_col).alias("ida"),
                      *[F.col(f"m{i}").alias(f"am{i}") for i in range(K)])
    sigb = sig.select(F.col(id_col).alias("idb"),
                      *[F.col(f"m{i}").alias(f"bm{i}") for i in range(K)])
    intra_dropped = (cand.join(siga, "ida").join(sigb, "idb")
                     .where(est_ab)
                     .select(F.col("idb").alias(id_col)).distinct())
    survivors = sig.join(intra_dropped, id_col, "left_anti")

    # across batches: probe the admitted-state LSH index
    if state_bands is not None and state_sigs is not None:
        # Exact-id drop FIRST (ADVICE r9): a replayed already-admitted
        # doc whose band keys are all over max_band_size would never
        # collide with its own state signature in the capped probe
        # below and be re-admitted, breaking the "replay leaves the
        # row SET unchanged" idempotence the marker-vacuum contract
        # rests on. The id is the admission identity, so a doc_id
        # already in the state is dropped unconditionally,
        # cap-independent. Shape matters at scale: a plain anti-join
        # would SHUFFLE the state's id column every micro-batch, so
        # instead the trigger-bounded batch-id side broadcasts BOTH
        # ways — state ids matching the batch (map-side semi over the
        # state scan, |result| <= |batch|) then a broadcast anti-join
        # back — preserving the module contract that the state is
        # scanned but never shuffled per batch.
        batch_ids = survivors.select(id_col)
        already = (state_sigs.select(F.col("doc_id").alias(id_col))
                   .join(F.broadcast(batch_ids), id_col, "left_semi"))
        survivors = survivors.join(
            F.broadcast(already), id_col, "left_anti")
        probe_bands = band_rows(survivors, id_col)
        state_b = state_bands.select(
            F.col("doc_id").alias("admitted_id"), "band_idx", "band_key")
        if max_band_size is not None:
            from pyspark.sql.window import Window

            w = Window.partitionBy("band_idx", "band_key")
            state_b = (state_b.withColumn("__n", F.count("*").over(w))
                       .where(F.col("__n") <= max_band_size).drop("__n"))
        hits = (probe_bands.join(state_b, ["band_idx", "band_key"])
                .select(id_col, "admitted_id").distinct())
        new_sig = survivors.select(
            F.col(id_col),
            *[F.col(f"m{i}").alias(f"am{i}") for i in range(K)])
        old_sig = state_sigs.select(
            F.col("doc_id").alias("admitted_id"),
            *[F.col(f"m{i}").alias(f"bm{i}") for i in range(K)])
        dup_vs_state = (hits.join(new_sig, id_col)
                        .join(old_sig, "admitted_id")
                        .where(est_ab)
                        .select(id_col).distinct())
        survivors = survivors.join(dup_vs_state, id_col, "left_anti")

    admitted_sigs = survivors.select(
        F.col(id_col).alias("doc_id"),
        *[F.col(f"m{i}") for i in range(K)], "n_sh")
    # bands derive FROM admitted_sigs (not a parallel plan over
    # survivors) so a caller that persists admitted_sigs pays for the
    # admission computation exactly once across the two state writes
    admitted_bands = band_rows(admitted_sigs, "doc_id")
    return admitted_sigs, admitted_bands


def _batch_fingerprint(batch_df: DataFrame, text_col: str,
                       id_col: str) -> str:
    """The gate's content identity: the shared ledger fingerprint over
    (id, text) ONLY — admission semantics read nothing else, so
    payload columns the gate ignores cannot flip a true replay into a
    collision. See ``streaming/fingerprint.py`` for why the exact
    fingerprint replaced the "re-execute and see if anything is
    admitted" heuristic (band-cap-dependent idempotence — review
    r10)."""
    return fingerprint.batch_fingerprint(batch_df, [id_col, text_col])


# module-local alias: the gate's tests build ledger keys through it
_fp_key = fingerprint.fp_key


def _live_tokens(store: StateStore, marker_dir: str) -> list[str]:
    """Committed version tokens a read must stitch, in commit order.

    Tokens share ``streaming/partitioned.py``'s two namespaces: stream
    batch ids (``"7"``) and compaction tokens (``"7c1"``, sorting
    after batch 7 and before batch 8 — compaction never squats on a
    future micro-batch's id). A compaction REWRITES everything
    committed at or before it, so the live set is the latest
    compaction (if any) plus every later stream batch."""
    tokens = committed_tokens(store, marker_dir)
    last_c = None
    for i, t in enumerate(tokens):
        if "c" in t:
            last_c = i
    return tokens if last_c is None else tokens[last_c:]


def read_state(spark, base_dir: str, state: StateStore | None = None):
    """(sigs, bands) DataFrames of the committed admitted state, or
    (None, None) before the first committed batch. Committed = the
    batch's marker exists; a crash between append and marker leaves
    orphan part-files in versioned subdirs that are never listed.
    Versions superseded by a compaction are not stitched."""
    store = state or LocalFSStateStore()
    tokens = _live_tokens(store, posixpath.join(base_dir, "markers"))
    if not tokens:
        return None, None
    sig_dirs = [posixpath.join(base_dir, f"sigs-v{t}") for t in tokens]
    band_dirs = [posixpath.join(base_dir, f"bands-v{t}") for t in tokens]
    return (spark.read.parquet(*sig_dirs),
            spark.read.parquet(*band_dirs))


def foreach_batch_near_dedup(
    stream: DataFrame,
    base_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_band_size: int | None = LSH_MAX_BAND_SIZE,
    state: StateStore | None = None,
    trigger: dict[str, Any] | None = None,
) -> StreamingQuery:
    """The streaming near-dup admission gate. Each micro-batch runs
    ``admit_batch`` against the committed state and appends the
    admitted docs' signatures + band rows as version-stamped parquet,
    marker-committed — replays of a committed batchId are no-ops, and
    an uncommitted crash leaves only invisible orphan versions.

    Exactly-once ledger: alongside the marker, each committed batch
    records a zero-byte content FINGERPRINT
    (``fingerprints/fp-<id>-<fp>.marker``, written AFTER the marker so
    its presence proves full commit). Replay vs fresh-checkpoint
    collision is decided by fingerprint EQUALITY — exact, never by the
    band-cap-dependent "re-execution admits nothing" heuristic: a true
    replay (same id, same content) is skipped even when the state's
    band groups have since crossed ``max_band_size``; a reused id with
    different content is refused loudly. Fingerprint singles are
    merged into one JSON manifest per vacuum, so the ledger's file
    count is bounded by the maintenance cadence, not the batch
    cadence.

    The gate keeps its own per-batch frame rather than
    ``fingerprint.exactly_once_applier``: a legacy marker re-executes
    admission instead of skipping, staleness is measured against the
    latest COMPACTION rather than the latest committed batch, and a
    legacy id below the compaction commits an empty version and its
    marker WITHOUT a fingerprint single, guarded by the admission
    result — a commit shape the shared marker-then-fingerprint order
    does not have."""
    store = state or LocalFSStateStore()
    marker_dir = posixpath.join(base_dir, "markers")

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        # persist ACROSS the fingerprint aggregate and admission: the
        # fp job materializes the cache, so admit_batch (and the
        # legacy-path re-execution) reads the cached batch instead of
        # re-running the source scan + upstream transforms (ADVICE
        # r10; pinned by tests/test_fingerprint_scan_once.py)
        batch_df = batch_df.persist()
        try:
            _apply_once(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    def _apply_once(batch_df: DataFrame, batch_id: int) -> None:
        marker = posixpath.join(marker_dir, f"batch-{batch_id}.marker")
        spark = batch_df.sparkSession
        # one small aggregate job — also Spark's required batch
        # consumption on every early-return path below
        fp = _batch_fingerprint(batch_df, text_col, id_col)
        fp_key = _fp_key(base_dir, batch_id, fp)
        if store.exists(marker):
            # Committed-marker hit. Blindly skipping would silently
            # swallow a FRESH-CHECKPOINT run whose batch id collides
            # with a not-yet-vacuumed marker (self-review r10);
            # re-executing admission and refusing on non-empty
            # admissions misreads a legitimate replay whenever a band
            # group crossed the cap after commit (review r10). The
            # fingerprint decides EXACTLY:
            decision = fingerprint.decide_replay(
                spark, store, base_dir, batch_id, fp,
                fingerprint.collision_message(
                    "near-dedup", "admissions", base_dir, batch_id))
            if decision == "skip":
                return  # true replay of the committed content — no-op
            # Legacy marker (pre-fingerprint state, or a crash in the
            # marker->fingerprint window): fall back to the
            # re-execution heuristic. Deliberately NO ledger heal:
            # "admits nothing" does not prove content equality (a
            # colliding batch whose docs all estimate as near-dups of
            # the state also admits nothing), so recording the
            # CURRENT batch's fingerprint could poison the ledger and
            # wedge the original checkpoint's later true replay
            # (review r10).
            sigs0, bands0 = read_state(spark, base_dir, store)
            replay_sigs, _ = admit_batch(
                batch_df, sigs0, bands0, text_col, id_col, n,
                threshold, max_band_size)
            if replay_sigs.limit(1).count() > 0:
                raise RuntimeError(
                    f"batch {batch_id} carries a committed marker at "
                    f"{base_dir!r} but admits NEW docs — a "
                    "fresh-checkpoint run is reusing a committed "
                    "batch id over the same base_dir, and skipping it "
                    "would silently drop its admissions. Resume the "
                    "original checkpoint, use a new base_dir, or "
                    "clear the state first.")
            return
        # Liveness guard (ADVICE r9, medium): a version whose token
        # sorts below the latest compaction is INVISIBLE to
        # _live_tokens stitching and reclaimed by the next vacuum. A
        # marker-vacuumed REPLAY landing there is safe; a
        # FRESH-checkpoint run over the same base_dir restarts batch
        # ids at 0, and its batches carry NEW admissions that would
        # commit below the compaction token and silently vanish.
        compactions = [t for t in committed_tokens(store, marker_dir)
                       if "c" in t]
        below_compaction = bool(compactions) and (
            token_key(str(batch_id)) < token_key(compactions[-1]))
        if below_compaction:
            # marker vacuumed. The ledger decides (review r10 — this
            # was the one decision point still resting on the
            # admits-nothing heuristic): an exact fingerprint match
            # proves this content was committed before the compaction
            # — true replay, write NOTHING (the admissions live on in
            # the compacted state); a differing current-version entry
            # is a fresh-checkpoint collision — refuse BEFORE the
            # heuristic can silently commit an invisible empty
            # version and poison the ledger with the colliding fp;
            # only a truly pre-ledger id falls through to the
            # admits-nothing last-ditch guard below.
            if fingerprint.decide_replay(
                    spark, store, base_dir, batch_id, fp,
                    f"near-dedup state at {base_dir!r} was compacted "
                    f"at token {compactions[-1]!r}, but batch "
                    f"{batch_id} re-delivers DIFFERENT content than "
                    "was committed at this id — a fresh-checkpoint "
                    "run over an already-compacted base_dir. Its "
                    "versions would be invisible to reads and "
                    "reclaimed by the next vacuum (silent data "
                    "loss). Resume the original checkpoint, point "
                    "this run at a new base_dir, or clear the state "
                    "first.") == "skip":
                return
        sigs, bands = read_state(spark, base_dir, store)
        adm_sigs, adm_bands = admit_batch(
            batch_df, sigs, bands, text_col, id_col, n, threshold,
            max_band_size)
        # two actions consume the admission result (sigs + bands
        # appends); persist it so the signature aggregation, the
        # intra-batch LSH self-join, and the state probe run ONCE per
        # micro-batch, mirroring _partitioned_applier's discipline
        adm_sigs.persist()
        try:
            if below_compaction and adm_sigs.limit(1).count() > 0:
                raise RuntimeError(
                    f"near-dedup state at {base_dir!r} was compacted "
                    f"at token {compactions[-1]!r}, but this stream "
                    f"is writing batch {batch_id} with NON-EMPTY "
                    "admissions below it — a fresh-checkpoint run "
                    "over an already-compacted base_dir. Its versions "
                    "would be invisible to reads and reclaimed by the "
                    "next vacuum (silent data loss). Resume the "
                    "original checkpoint, point this run at a new "
                    "base_dir, or clear the state first.")
            adm_sigs.write.mode("overwrite").parquet(
                posixpath.join(base_dir, f"sigs-v{batch_id}"))
            adm_bands.write.mode("overwrite").parquet(
                posixpath.join(base_dir, f"bands-v{batch_id}"))
            store.put_marker(marker)
            # fingerprint LAST: its presence proves the marker (and
            # therefore the data) committed — the invariant the
            # below_compaction fast path above relies on. A crash in
            # the marker->fingerprint window degrades that batch id
            # to the legacy heuristic permanently (no heal: see the
            # marker-hit comment). Below the compaction, NO fp is
            # recorded either: that write is a legacy-path empty
            # version whose content equality is unproven — recording
            # the delivered fp there could poison the ledger exactly
            # like the removed heal.
            if not below_compaction:
                store.put_marker(fp_key)
        finally:
            adm_sigs.unpersist()

    return start_foreach_batch(stream, apply, checkpoint_dir, trigger)


def compact_near_dedup(spark, base_dir: str,
                       state: StateStore | None = None) -> str:
    """Maintenance compaction for the admitted-state LSH index: the
    append-only protocol above adds a sigs + bands version PER
    micro-batch forever, and at firehose scale the FILE COUNT (not the
    data) becomes the read bottleneck — every admission stitches every
    version. This rewrites the whole live state into ONE new version.

    Protocol mirrors ``streaming/partitioned.py:compact_partitioned``:
    the version token is ``"<base>c<k>"`` — OUTSIDE the stream's
    batch-id namespace, so compaction can never squat on a future
    micro-batch's id (which would make that batch read as a replay and
    silently drop its admissions). Same write-then-marker commit: a
    crashed compaction leaves invisible orphan dirs and a rerun
    deterministically overwrites them. Admission decisions are
    byte-identical across a compaction — the row SET is unchanged, and
    the signature estimate + band cap are functions of the row set
    (pinned in pytest). Output partition counts are AQE-coalesced via
    a doc_id/band_key repartition, so K versions x P files collapse to
    a handful sized by the data. Returns the new token; run
    ``vacuum_near_dedup`` after to reclaim superseded versions."""
    store = state or LocalFSStateStore()
    marker_dir = posixpath.join(base_dir, "markers")
    tokens = committed_tokens(store, marker_dir)
    if not tokens:
        raise ValueError("nothing to compact: no committed versions")
    live = _live_tokens(store, marker_dir)
    base, suf = token_key(tokens[-1])
    new_token = f"{base}c{suf + 1}"
    sigs = spark.read.parquet(
        *[posixpath.join(base_dir, f"sigs-v{t}") for t in live])
    bands = spark.read.parquet(
        *[posixpath.join(base_dir, f"bands-v{t}") for t in live])
    (sigs.repartition("doc_id").write.mode("overwrite")
     .parquet(posixpath.join(base_dir, f"sigs-v{new_token}")))
    (bands.repartition("band_key").write.mode("overwrite")
     .parquet(posixpath.join(base_dir, f"bands-v{new_token}")))
    store.put_marker(
        posixpath.join(marker_dir, f"batch-{new_token}.marker"))
    return new_token


def vacuum_near_dedup(spark, base_dir: str,
                      state: StateStore | None = None) -> list[str]:
    """Reclaim versions superseded by the latest compaction. Deletion
    order per doomed version is marker FIRST, then data
    (``vacuum_partitioned``'s rule): a crash mid-vacuum leaves
    invisible orphan files, never a committed marker whose data is
    gone (which would wedge every later read). No-op when no
    compaction has committed. Returns the tokens whose data was
    deleted.

    Replay contract (self-review r9, twice; hardened r10, re-hardened
    by review r10): ALL doomed markers are reclaimed — retaining them
    would be WRONG: a later fresh-checkpoint run over the same
    base_dir restarts batch ids at 0, and a stale retained marker
    would silently swallow a NEW batch that happens to reuse the id —
    permanent data loss. The FINGERPRINT ledger
    (``fingerprints/fp-<id>-<fp>.marker``) is what survives a vacuum
    instead: a replayed batch whose (id, content-fingerprint) is in
    the ledger is skipped exactly (its admissions live on in the
    compacted state), and a reused id with different content is
    refused loudly at write time by ``foreach_batch_near_dedup`` —
    both decisions are content-exact, independent of the band cap.
    (The earlier contract rested on admission idempotence — "a replay
    re-executes and admits nothing" — which breaks when a band group
    crosses ``max_band_size`` between commit and replay: the capped
    probe goes blind, the re-execution admits a previously-rejected
    doc, and the guard wedges a legitimate crash recovery.)

    Ledger growth is bounded here too: fingerprint singles for batch
    ids below the latest compaction are merged — together with any
    prior manifests — into one ``fingerprints/manifest-<token>.json``,
    then deleted (manifest write FIRST, so a crash leaves duplicates,
    never losses; a truncated manifest is skipped by readers and
    re-merged next vacuum). Zero-byte singles above the compaction
    stay O(batches-since-maintenance)."""
    store = state or LocalFSStateStore()
    marker_dir = posixpath.join(base_dir, "markers")
    tokens = committed_tokens(store, marker_dir)
    live = set(_live_tokens(store, marker_dir))
    doomed = [t for t in tokens if t not in live]
    for tok in doomed:
        store.delete(
            posixpath.join(marker_dir, f"batch-{tok}.marker"))
        for prefix in ("sigs", "bands"):
            _delete_path(
                spark, posixpath.join(base_dir, f"{prefix}-v{tok}"))
    # Fingerprint-ledger compaction: singles below the latest
    # compaction token + all prior manifests -> one manifest.
    compactions = [t for t in tokens if "c" in t]
    if compactions:
        ctoken = compactions[-1]
        fingerprint.compact_fingerprints(
            spark, store, base_dir,
            lambda bid: token_key(bid) < token_key(ctoken), ctoken)
    return doomed

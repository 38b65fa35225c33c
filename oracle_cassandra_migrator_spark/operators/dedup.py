"""Deduplication operators for document corpora at 100 TB scale.

Four strategies, in increasing fuzziness:

- ``exact_dedup``: md5-of-normalized-text fingerprint, one hash
  ``groupBy`` — the linear-cost first pass of every dedup pipeline.
- ``ngram_jaccard_pairs``: exact near-dup pairs via an *inverted index*
  self-join on shingles (never a cross join): candidate pairs are only
  docs sharing >= 1 shingle, cost ~ sum over shingles of df^2, then
  exact Jaccard on the candidates.
- ``minhash_lsh_pairs``: the scale path — per-doc MinHash signature
  (k md5-based hash functions, min over shingles), banded into b bands
  of r rows; only band-key collisions become candidates (shuffle on
  band key, not on shingle), then exact-Jaccard verification. All
  hashing is md5 so results are deterministic and reproducible in
  plain SQL (the DuckDB oracle replicates the whole scheme).
- ``simhash_pairs``: 32-bit SimHash over word md5s; near-dups = equal
  simhash bucket (cheap; hamming-distance variant is a later round).

MinHash math: P(minhash collision) = Jaccard; P(band collision) =
1 - (1 - j^r)^b. With k=12, b=6, r=2: j=0.8 -> 0.998, j=0.5 -> 0.82.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oracle_cassandra_migrator_spark.operators.text import (
    fingerprint_expr,
    with_shingles,
)

MINHASH_K = 12
LSH_BANDS = 6
LSH_ROWS = 2  # k = bands * rows

# Universal hashing over one md5 per shingle: base h = first 60 bits of
# md5 as BIGINT, then h_i = (A_i * (h mod P) + B_i) mod P with P prime.
# One string hash per shingle instead of k — the k derived hashes are
# integer ops — and every value is exactly reproducible in ANSI SQL.
HASH_P = 2_147_483_647  # 2^31 - 1, prime
HASH_A = [1_000_003 + 7_919 * i for i in range(MINHASH_K)]
HASH_B = [12_345 + 271 * i for i in range(MINHASH_K)]

BASE_HASH_SPARK = (
    "CAST(conv(substring(md5(sh), 1, 15), 16, 10) AS BIGINT)"
)
BASE_HASH_SQL = "('0x' || substring(md5(tok), 1, 15))::BIGINT"


def minhash_term_sql(i: int) -> str:
    return (
        f"min(({HASH_A[i]} * (({BASE_HASH_SQL}) % {HASH_P}) + {HASH_B[i]})"
        f" % {HASH_P})"
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One row per distinct normalized text: representative (min id),
    copy count, fingerprint. Single hash aggregation — no joins."""
    return (
        df.select(F.col(id_col), F.expr(fingerprint_expr(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).cast("bigint").alias("representative_id"),
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_copies"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str,
    n: int = 3, threshold: float = 0.5,
    max_token_df: int | None = None,
) -> DataFrame:
    """Exact near-duplicate pairs (id_a < id_b) with word-n-gram Jaccard
    >= threshold, via an inverted-index self-join.

    |A ∩ B| falls straight out of the join as a pair-count aggregation
    (shingle sets are distinct per doc), so no intersection arrays are
    ever materialized — with a repetitive vocabulary the candidate set
    can approach all-pairs, and per-pair array_intersect would dominate
    the whole job (measured 2.5x slower on the synthetic corpus).

    Set sizes ride along instead of joining back: each exploded row
    carries its doc's shingle count, so |A|/|B| come out of the same
    pair aggregation as |A ∩ B| (they are constant per group). The
    whole operator is ONE pass over the shingle table — no second
    consumer, so nothing needs caching/checkpointing, and the only
    shuffles are the inverted-index join and the pair aggregation.

    ``max_token_df`` is the production guard for adversarial/common
    content: a shingle shared by g docs emits g*(g-1)/2 join rows, so
    ONE ubiquitous shingle (boilerplate phrase, empty-doc artifact)
    quadratically melts the self-join — the same failure mode
    ``minhash_lsh_pairs`` caps with max_band_size. Shingles with
    document frequency above the cap are dropped BEFORE the join
    (count-over-window on the same sh distribution the join shuffles
    on, so it rides the existing exchange). Note the semantics shift:
    n_sh still counts ALL shingles, but dropped shingles no longer
    contribute to the intersection, so a pair whose overlap is mostly
    ubiquitous content scores lower — exactly the discrimination a
    dedup pipeline wants, but NOT bit-identical to the uncapped
    operator; the oracle-checked catalog query therefore runs
    uncapped, and the cap is the documented 100 TB switch (adversarial
    bound proven in test_ngram_token_df_cap_bounds_adversarial)."""
    return (
        _shingle_pair_counts(df, text_col, id_col, n, max_token_df)
        .where(f"CAST(n_common AS DOUBLE) / (n_a + n_b - n_common)"
               f" >= {threshold}")
        .withColumn(
            "jaccard",
            F.expr("round(CAST(n_common AS DOUBLE) / (n_a + n_b - n_common), 6)"))
        .select("doc_a", "doc_b", "jaccard")
    )


def _shingle_arrays(
    df: DataFrame, text_col: str, id_col: str, n: int = 3,
) -> DataFrame:
    """Per-doc shingle-array frame ``(id, n_sh, shingles)`` — the ONE
    canonical subtree every shingle consumer builds on, persisted
    (spillable MEMORY_AND_DISK) because every consumer reads it at
    least twice in a single plan: ngram/containment explode it into
    BOTH sides of the inverted-index self-join, minshingle into the
    block key and the verification explode, MinHash into the signature
    branch and both verification explodes. One regex shingling pass
    per plan instead of one per consumer edge — and because the
    subtree canonicalizes identically across operators, Spark's
    CacheManager serves any same-session operator over the same corpus
    from the same blocks (persist on an already-cached plan is a
    no-op, so repeated calls don't stack entries). Cached rows are
    doc-sized (id, count, array), not exploded. The ``size > 0``
    filter is a semantic no-op for every consumer (explode drops
    empty arrays; empty docs have no signature)."""
    from pyspark import StorageLevel

    return (
        with_shingles(df.select(id_col, text_col), text_col, n)
        .where("size(shingles) > 0")
        .select(F.col(id_col), F.expr("size(shingles)").alias("n_sh"),
                "shingles")
        .persist(StorageLevel.MEMORY_AND_DISK))


def _shingle_pair_counts(
    df: DataFrame, text_col: str, id_col: str,
    n: int = 3, max_token_df: int | None = None,
) -> DataFrame:
    """The inverted-index candidate stage shared by the Jaccard and
    containment operators: undirected pairs (doc_a < doc_b) with
    (n_common, n_a, n_b) — |A ∩ B| out of the self-join aggregation,
    set sizes riding along. The ``max_token_df`` guard (and its
    n_sh-before-filter semantics) lives HERE so a fix applies to every
    consumer at once."""
    exploded = _shingle_arrays(df, text_col, id_col, n).select(
        F.col(id_col), F.col("n_sh"), F.explode("shingles").alias("sh"))
    if max_token_df is not None:
        from pyspark.sql.window import Window

        w = Window.partitionBy("sh")
        exploded = (exploded.withColumn("__df", F.count("*").over(w))
                    .where(F.col("__df") <= max_token_df)
                    .drop("__df"))
    a = exploded.select(F.col(id_col).alias("doc_a"),
                        F.col("n_sh").alias("n_a"), "sh")
    b = exploded.select(F.col(id_col).alias("doc_b"),
                        F.col("n_sh").alias("n_b"), "sh")
    return (
        a.join(b, "sh")
        .where("doc_a < doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"),
             F.first("n_a").alias("n_a"),
             F.first("n_b").alias("n_b"))
    )


LSH_MAX_BAND_SIZE = 1000


def minhash_lsh_pairs(
    df: DataFrame, text_col: str, id_col: str,
    n: int = 3, threshold: float = 0.5,
    bands: int = LSH_BANDS, rows: int = LSH_ROWS,
    max_band_size: int | None = LSH_MAX_BAND_SIZE,
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH banding, then exact-Jaccard
    verification of the candidates. The only shuffles are the signature
    groupBy, the band-key self-join, and the candidate-restricted
    intersection count — no all-pairs stage anywhere, and every
    shuffle payload is row-shaped (ids, hashes, single shingles): no
    shingle *array* ever crosses an exchange.

    Verification is inverted-index style restricted to candidates:
    candidate pairs join back to exploded shingle rows on doc_a, then
    inner-join exploded rows again on (doc_b, shingle) — surviving rows
    ARE the intersection, counted per pair. Set sizes ride through the
    signature aggregation, so nothing re-reads the corpus for sizes.

    ``max_band_size`` is the production guard against quadratic blow-up:
    a band key shared by g docs emits g*(g-1)/2 candidates, so one
    pathological key (mass-duplicated boilerplate, all-empty docs) can
    dominate the whole job. Band groups above the cap are dropped
    before the self-join — their members are mass-duplicates whose
    dedup belongs to the linear-cost ``exact_dedup``/
    ``connected_components`` pass, not pairwise verification. The
    group-size guard is a count-over-window on the same
    (band_idx, band_key) distribution the self-join shuffles on, so it
    rides the existing exchange."""
    exploded, sig, candidates = _minhash_candidates(
        df, text_col, id_col, n, bands, rows, max_band_size)
    sh_a = exploded.select(F.col(id_col).alias("doc_a"), "sh")
    sh_b = exploded.select(F.col(id_col).alias("doc_b"), "sh")
    return (
        candidates.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"),
             F.first("n_a").alias("n_a"),
             F.first("n_b").alias("n_b"))
        .where(f"CAST(n_common AS DOUBLE) / (n_a + n_b - n_common)"
               f" >= {threshold}")
        .withColumn(
            "jaccard",
            F.expr("round(CAST(n_common AS DOUBLE) /"
                   " (n_a + n_b - n_common), 6)"))
        .select("doc_a", "doc_b", "jaccard")
    )


def _minhash_candidates(
    df: DataFrame, text_col: str, id_col: str,
    n: int, bands: int, rows: int, max_band_size: int | None,
):
    """Shared MinHash-LSH front half: returns (exploded shingle rows,
    per-doc signature table, banded candidate pairs). Exactly the
    pipeline documented on ``minhash_lsh_pairs`` up to candidate
    generation.

    Signatures are computed PER ROW with array expressions
    (``array_min(transform(hashes, ...))``) instead of
    explode + 13-function groupBy: the values are identical (min over
    the same multiset), but the corpus-sized shingle->signature shuffle
    disappears — and with it the r11 plan's duplicated signature
    subtree (the banded self-join consumed the aggregation through
    both sides, so the 13-fn agg + band-cap window each ran TWICE,
    measured as 4 of the query's 6 hash exchanges at sf0.1). The
    persist accordingly moves UP to the per-doc shingle-array table —
    one regex pass serves the signature branch and both verification
    explodes, and the cached rows are doc-sized, not shingle-sized.

    Candidate generation under ``max_band_size`` groups each band key
    once (one exchange) and emits the intra-group pairs with a local
    array transform. Oversized bands are dropped by a count-over-window
    gate BEFORE the collect_list (riding the same exchange), so every
    aggregation buffer — unlike a spillable shuffle partition, a
    collect_list array lives wholly in memory — is cap-bounded, and
    the pair array per group is at most cap^2/2 structs. With the
    cap disabled (None) the grouped form could materialize an
    unbounded per-key pair array, so the original streaming self-join
    topology is kept for that path."""
    arrays = _shingle_arrays(df, text_col, id_col, n)
    exploded = arrays.select(
        F.col(id_col), F.col("n_sh"), F.explode("shingles").alias("sh"))
    k = bands * rows
    # one md5 per shingle, bound once as an array column; the k derived
    # hashes are integer folds over it (the same (A_i*(h%P)+B_i)%P
    # family as minhash_term_sql, so the oracle's explode+GROUP BY
    # replay sees identical values)
    hashed = arrays.select(
        F.col(id_col), F.col("n_sh"),
        F.expr(f"transform(shingles, sh -> {BASE_HASH_SPARK})").alias("hs"))
    sig = hashed.select(
        F.col(id_col),
        *[F.expr(f"array_min(transform(hs, h -> "
                 f"({HASH_A[i]} * (h % {HASH_P}) + {HASH_B[i]}) % {HASH_P}))")
          .alias(f"m{i}") for i in range(k)],
        F.col("n_sh"))
    band_keys = [
        F.md5(F.concat_ws(
            ":", *[F.col(f"m{band * rows + r}") for r in range(rows)]))
        .alias(f"b{band}")
        for band in range(bands)
    ]
    banded = sig.select(F.col(id_col), F.col("n_sh"), *band_keys)
    long = banded.select(
        F.col(id_col), F.col("n_sh"),
        F.posexplode(F.array(*[F.col(f"b{i}") for i in range(bands)]))
        .alias("band_idx", "band_key"),
    )
    if max_band_size is not None:
        # Capped path: ONE exchange groups each (band_idx, band_key)
        # and pairs fan out locally from the sorted member array — no
        # second pass over the banded table, no self-join. The size
        # gate runs BEFORE the collect_list, as a count-over-window on
        # the same (band_idx, band_key) keys (it rides the grouping
        # exchange): a collect_list buffer is a single in-memory array
        # that cannot spill, so gating after the aggregation would let
        # one pathological hot band key (mass-duplicated boilerplate)
        # build an unbounded array before the filter ever saw it.
        # Pre-gated, every surviving group is <= cap rows, so each
        # member array is cap-bounded and the pair array <= cap^2/2.
        # Row count per (band_idx, band_key) == distinct docs in the
        # band (posexplode emits one row per doc per band), so the
        # window gate is exactly the old HAVING-style size(members)
        # filter the oracle replays.
        from pyspark.sql.window import Window

        wband = Window.partitionBy("band_idx", "band_key")
        gated = (
            long.withColumn("__g", F.count("*").over(wband))
            .where(F.col("__g").between(2, max_band_size)).drop("__g"))
        members = (
            gated.groupBy("band_idx", "band_key")
            .agg(F.expr(
                f"array_sort(collect_list(named_struct("
                f"'id', {id_col}, 'n', n_sh))) AS members")))
        pair_arr = (
            "flatten(transform(members, (x, i) -> "
            "transform(slice(members, i + 2, size(members) - i - 1), "
            "y -> named_struct('doc_a', x.id, 'doc_b', y.id, "
            "'n_a', x.n, 'n_b', y.n))))")
        candidates = (
            members.select(F.explode(F.expr(pair_arr)).alias("p"))
            .select("p.doc_a", "p.doc_b", "p.n_a", "p.n_b")
            .distinct())
        return exploded, sig, candidates
    a = long.select(F.col(id_col).alias("doc_a"),
                    F.col("n_sh").alias("n_a"), "band_idx", "band_key")
    b = long.select(F.col(id_col).alias("doc_b"),
                    F.col("n_sh").alias("n_b"), "band_idx", "band_key")
    candidates = (
        a.join(b, ["band_idx", "band_key"])
        .where("doc_a < doc_b")
        .select("doc_a", "doc_b", "n_a", "n_b")
        .distinct()
    )
    return exploded, sig, candidates


def minhash_estimate_audit(
    df: DataFrame, text_col: str, id_col: str,
    n: int = 3,
    bands: int = LSH_BANDS, rows: int = LSH_ROWS,
    max_band_size: int | None = LSH_MAX_BAND_SIZE,
) -> DataFrame:
    """Statistical self-check of the MinHash scheme: for every LSH
    candidate pair, the signature-estimated Jaccard (fraction of equal
    minhash components, E[est] = true Jaccard) next to the exact
    shingle Jaccard and their absolute error. This is the audit a
    production dedup pipeline runs when tuning (bands, rows): if the
    estimator drifts from the truth on sampled candidates, the hash
    family or banding is wrong — and because every value is md5-derived
    the whole audit is replayable in SQL.

    Cost shape: the same banded candidate generation as
    ``minhash_lsh_pairs`` (no all-pairs stage), plus two narrow joins
    of the candidate list back to the k-integer signature table —
    signatures shuffle on doc id once each, candidates are the small
    side."""
    exploded, sig, candidates = _minhash_candidates(
        df, text_col, id_col, n, bands, rows, max_band_size)
    k = bands * rows
    sig_a = sig.select(
        F.col(id_col).alias("doc_a"),
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(k)])
    sig_b = sig.select(
        F.col(id_col).alias("doc_b"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(k)])
    matches = " + ".join(
        f"CASE WHEN a{i} = b{i} THEN 1 ELSE 0 END" for i in range(k))
    est = (
        candidates.join(sig_a, "doc_a").join(sig_b, "doc_b")
        .withColumn("est_jaccard",
                    F.expr(f"round(CAST(({matches}) AS DOUBLE) / {k}, 6)"))
        .select("doc_a", "doc_b", "n_a", "n_b", "est_jaccard")
    )
    sh_a = exploded.select(F.col(id_col).alias("doc_a"), "sh")
    sh_b = exploded.select(F.col(id_col).alias("doc_b"), "sh")
    common = (
        candidates.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        est.join(common, ["doc_a", "doc_b"], "left")
        .withColumn(
            "true_jaccard",
            F.expr("round(CAST(coalesce(n_common, 0) AS DOUBLE) /"
                   " (n_a + n_b - coalesce(n_common, 0)), 6)"))
        .withColumn("abs_err",
                    F.expr("round(abs(est_jaccard - true_jaccard), 6)"))
        .select("doc_a", "doc_b", "est_jaccard", "true_jaccard", "abs_err")
    )


def simhash_expr(text_col: str, bits: int = 32) -> str:
    """32-bit SimHash over distinct words: bit i of the hash is the sign
    of sum over words of (+1 if bit i of md5(word) set else -1).
    Pure built-ins: conv() maps the md5 hex prefix to a BIGINT whose low
    ``bits`` bits we fold with aggregate()."""
    word_h = "CAST(conv(substring(md5(x), 1, 15), 16, 10) AS BIGINT)"
    # acc is an array<int> of per-bit counters; fold words, then collapse
    # each counter's sign into the output bits.
    return (
        f"aggregate("
        f"  transform(array_distinct(split(trim(regexp_replace(lower({text_col}),"
        f" '\\\\s+', ' ')), ' ')), x -> {word_h}),"
        f"  array_repeat(0, {bits}),"
        f"  (acc, h) -> zip_with(acc, sequence(0, {bits - 1}),"
        f"    (c, i) -> c + CASE WHEN (h DIV CAST(pow(2, i) AS BIGINT)) % 2 = 1"
        f"      THEN 1 ELSE -1 END),"
        f"  acc -> aggregate(zip_with(acc, sequence(0, {bits - 1}),"
        f"    (c, i) -> CASE WHEN c > 0 THEN CAST(pow(2, i) AS BIGINT)"
        f"      ELSE CAST(0 AS BIGINT) END),"
        f"    CAST(0 AS BIGINT), (s, v) -> s + v))"
    )


def pigeonhole_widths(bits: int, n_blocks: int) -> list[int]:
    """Near-equal block widths summing to ``bits`` — the shared
    contract between the Spark hamming multi-index and its SQL oracle
    (a width mismatch would silently desynchronize candidates)."""
    return [bits // n_blocks + (1 if i < bits % n_blocks else 0)
            for i in range(n_blocks)]


def simhash_hamming_pairs(
    df: DataFrame, text_col: str, id_col: str,
    max_distance: int = 2, bits: int = 32,
    max_block_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs with SimHash hamming distance <=
    ``max_distance``, via the pigeonhole multi-index: split the
    ``bits``-bit hash into ``max_distance + 1`` blocks — two hashes
    within distance d differ in at most d blocks, so they must agree
    exactly on at least one block. Candidates = pairs sharing any
    (block_idx, block_value); verification = bit_count(xor) on the
    full hashes. One narrow map + one blocked equi-join — never
    all-pairs, and block values are small integers, so the shuffle
    payload is (id, simhash, block) only.

    ``max_block_size`` is the production guard against mass
    duplication: g docs sharing a block value emit g*(g-1)/2 join rows
    (a boilerplate-dominated corpus shares ALL blocks), the same
    quadratic failure ``minhash_lsh_pairs``/``ngram_jaccard_pairs``
    cap. Oversized (block_idx, block_val) groups are dropped before
    the self-join — their members are mass-duplicates whose dedup
    belongs to the linear-cost ``simhash_buckets``/``exact_dedup``
    pass. The catalog query runs uncapped (exact oracle parity); the
    cap is the documented 100 TB switch."""
    widths = pigeonhole_widths(bits, max_distance + 1)
    hashed = df.select(
        F.col(id_col), F.expr(simhash_expr(text_col, bits)).alias("simhash"))
    shift = 0
    block_cols = []
    for i, w in enumerate(widths):
        block_cols.append(
            F.expr(f"CAST(simhash DIV {2 ** shift} % {2 ** w} AS BIGINT)")
            .alias(f"blk{i}"))
        shift += w
    blocked = hashed.select(F.col(id_col), F.col("simhash"), *block_cols)
    long = blocked.select(
        F.col(id_col), F.col("simhash"),
        F.posexplode(F.array(*[F.col(f"blk{i}") for i in range(len(widths))]))
        .alias("block_idx", "block_val"),
    )
    if max_block_size is not None:
        from pyspark.sql.window import Window

        w = Window.partitionBy("block_idx", "block_val")
        long = (long.withColumn("__blk_n", F.count("*").over(w))
                .where(F.col("__blk_n") <= max_block_size)
                .drop("__blk_n"))
    a = long.select(F.col(id_col).alias("doc_a"),
                    F.col("simhash").alias("sh_a"), "block_idx", "block_val")
    b = long.select(F.col(id_col).alias("doc_b"),
                    F.col("simhash").alias("sh_b"), "block_idx", "block_val")
    return (
        a.join(b, ["block_idx", "block_val"])
        .where("doc_a < doc_b")
        .select("doc_a", "doc_b", F.expr(
            "CAST(bit_count(sh_a ^ sh_b) AS INT)").alias("hamming"))
        .distinct()
        .where(f"hamming <= {max_distance}")
    )


def simhash_buckets(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Docs grouped by identical SimHash — candidate near-dup buckets."""
    hashed = df.select(
        F.col(id_col), F.expr(simhash_expr(text_col)).alias("simhash"))
    return (
        hashed.groupBy("simhash")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_docs"),
            F.min(id_col).cast("bigint").alias("representative_id"),
        )
        .where("n_docs > 1")
    )


def connected_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst", max_iter: int = 25) -> DataFrame:
    """Resolve pair lists into clusters: (node, component) where
    component is the minimum node id reachable through the pair graph.

    This is the step that turns near-dup *pairs* (minhash_lsh_pairs /
    ngram_jaccard_pairs output) into dedup *decisions* (one
    representative per transitive cluster).

    Algorithm: hash-to-min label propagation — every node repeatedly
    adopts the minimum label among itself and its neighbors; rounds
    needed = graph diameter, and near-dup clusters are band/bucket-
    generated so their diameter is small (single digits). ``max_iter``
    caps the total number of propagation rounds, the seeded one
    included.

    - **One evaluation of the edges.** The symmetric edge list is one
      ``explode`` of ``(src, dst), (dst, src)`` per pair, persisted: the
      pair pipeline upstream (shingling, LSH join, verification) runs
      once, not once per direction as a self-union would. It is stored
      in at most one block per core (a narrow ``coalesce``), so every
      round scans it with one task per core rather than one per
      shuffle partition of the pair pipeline.
    - **Seeded round.** Round one — min(self, neighbors) — is a single
      ``least(a, min(b))`` aggregate over the edge list, with no
      identity-label table to join against.
    - **Narrow change count.** Labels only decrease, so each round
      stores ``changed = nbr_min < component`` next to the new label;
      convergence is a filtered count over the round's checkpointed
      blocks, not a join of new labels to old. The seeded round always
      changes something on a non-empty graph, so it is not counted.

    Each round's labels are ``localCheckpoint``-ed (eager): lineage is
    truncated every iteration, so the final DataFrame's plan is a scan
    of the last round's blocks, not a max_iter-deep join tree. The edge
    list is ``persist``-ed rather than checkpointed: a cached relation
    reports its materialized size, and the labels' statistics derive
    from it, so a caller joining the labels back to its corpus still
    plans a broadcast join. A checkpointed edge list would carry the
    static size estimate of the pair pipeline instead, and that join
    would plan as a sort-merge with two hash exchanges. On a multi-node
    cluster prefer ``spark.sparkContext.setCheckpointDir`` +
    ``.checkpoint()`` for executor-loss resilience; localCheckpoint
    trades that for zero extra I/O over a (node, label) table that is
    tiny next to the corpus.
    """
    cores = edges.sparkSession.sparkContext.defaultParallelism
    sym = (edges.select(F.explode(F.array(
        F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
        F.struct(F.col(dst).alias("a"), F.col(src).alias("b")))).alias("e"))
        .select("e.a", "e.b").coalesce(cores).persist())
    labels = (sym.groupBy("a").agg(F.min("b").alias("nbr_min"))
              .selectExpr("a AS node", "least(a, nbr_min) AS component")
              .localCheckpoint(eager=True))
    for _ in range(max_iter - 1):
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy(sym.a.alias("node"))
            .agg(F.min("component").alias("nbr_min")))
        new_labels = (
            labels.join(neighbor_min, "node", "left")
            .selectExpr("node",
                        "least(component, nbr_min) AS component",
                        "nbr_min < component AS changed")
            .localCheckpoint(eager=True))
        labels.unpersist()
        labels = new_labels
        if labels.where("changed").count() == 0:
            break
    sym.unpersist()
    return labels.select("node", "component")


def dedup_decisions(df: DataFrame, comp: DataFrame, id_col: str,
                    cast_bigint: bool = True) -> DataFrame:
    """(id, cluster_rep, is_kept) decisions from a
    :func:`connected_components` labels frame: every row of ``df``
    left-joins its component, singletons keep themselves, and the
    min-id representative per transitive cluster is the keeper. The
    one projection every dedup family's keep/drop tail shares (pulled
    out in r10 — it had grown four inline copies).

    ``cast_bigint=False`` keeps ``id_col``'s own type in cluster_rep
    (a BIGINT cast of a string/UUID id would be NULL — the
    ``dedup_keep_representative`` trap); the catalog queries keep the
    BIGINT cast their oracles pin."""
    rep = (f"CAST(coalesce(component, {id_col}) AS BIGINT)"
           if cast_bigint else f"coalesce(component, {id_col})")
    return (
        df.select(id_col)
        .join(comp, F.col(id_col) == comp.node, "left")
        .selectExpr(
            id_col,
            f"{rep} AS cluster_rep",
            f"coalesce(component, {id_col}) = {id_col} AS is_kept")
    )


def dedup_keep_representative(
    df: DataFrame, text_col: str, id_col: str,
) -> DataFrame:
    """Return ``df`` with exact duplicates removed, keeping the
    smallest-id copy of each normalized-text group — the filtered-frame
    counterpart of :func:`exact_dedup` (which returns group summaries).
    One fingerprint aggregation + one fingerprint equi-join: both
    shuffles are row-shaped on the 32-char hash, so the op holds at any
    corpus size (same topology as the incremental-snapshot anti join).

    The representative keeps ``id_col``'s own type (unlike
    exact_dedup's BIGINT-cast report column): a bigint cast of a
    string/UUID id would be NULL, the join would match nothing, and
    the op would silently drop every row — the compiler's
    ``dedup_exact`` step feeds arbitrary specs through here."""
    fp = df.withColumn("__fp", F.expr(fingerprint_expr(text_col)))
    reps = fp.groupBy("__fp").agg(F.min(id_col).alias("__rep_id")) \
        .withColumnRenamed("__fp", "__rep_fp")
    kept = fp.join(
        reps,
        (fp["__fp"] == reps["__rep_fp"])
        & (fp[id_col] == reps["__rep_id"]))
    return kept.drop("__fp", "__rep_fp", "__rep_id")


# The measured routing bar (SCALE.md r8, scripts/bench_adversarial_cap
# + the 100x probes): prefix filtering keeps candidate blocks small at
# HIGH thresholds (t=0.9 100x: 28.9 s), but the prefix length
# |x| - ceil(t|x|) + 1 grows as t drops, and at t=0.5 the candidate
# relation is pair-density-bound (100x: 463 s / ~45 GB spill vs ~30 s
# for the inverted-index twin on the same data). Below this bar the
# inverted-index join is the right exact algorithm.
ALLPAIRS_ROUTE_THRESHOLD = 0.8

# Forced-allpairs safety valve: refuse when the estimated candidate
# volume (sum over prefix shingles of c*(c-1)/2 — an upper bound on
# the candidate join's output) exceeds this many pairs PER DOCUMENT.
# At the cap, the candidate relation alone is ~1000x the corpus row
# count — the regime where the r8 probes hit ENOSPC.
ALLPAIRS_CANDIDATE_CAP_PER_DOC = 1000


def jaccard_pair_strategy(
    threshold: float,
    strategy: str = "auto",
    route_threshold: float = ALLPAIRS_ROUTE_THRESHOLD,
) -> str:
    """The routing decision, factored pure for testability: which
    exact-Jaccard pair algorithm runs for a given similarity
    threshold. Returns ``"allpairs"`` or ``"inverted_index"``."""
    if strategy == "auto":
        return ("allpairs" if threshold >= route_threshold
                else "inverted_index")
    if strategy in ("allpairs", "inverted_index"):
        return strategy
    raise ValueError(
        f"unknown strategy {strategy!r}: expected 'auto', 'allpairs' "
        "or 'inverted_index'")


def allpairs_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str,
    n: int = 3, threshold: float = 0.5,
    max_token_df: int | None = None,
    strategy: str = "auto",
    route_threshold: float = ALLPAIRS_ROUTE_THRESHOLD,
    candidate_cap_per_doc: int | None = ALLPAIRS_CANDIDATE_CAP_PER_DOC,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (AllPairs /
    PPJoin family): every pair with word-n-gram Jaccard >= threshold,
    no false negatives, without joining on all shingles.

    Strategy guard (VERDICT r8): prefix filtering is the right tool at
    HIGH thresholds only — the prefix length grows as t drops, and at
    moderate t the candidate relation is pair-density-bound (measured:
    t=0.5 at the 100x probe needs 463 s / ~45 GB spill vs ~30 s for
    the output-identical inverted-index twin). That operational rule
    is engine behavior, not documentation:

    - ``strategy="auto"`` (default): run the prefix-filter body when
      ``threshold >= route_threshold`` (default 0.8, the measured
      bar), else route to ``ngram_jaccard_pairs`` — both arms are
      EXACT, so the output is identical either way (pinned in pytest);
      only the physical plan changes.
    - ``strategy="allpairs"``: force the prefix body. Below the
      routing bar this first pre-estimates the candidate volume from
      the prefix df histogram the algorithm already computes
      (sum over prefix shingles of c*(c-1)/2); above
      ``candidate_cap_per_doc * n_docs`` it REFUSES with the guidance
      message (the estimate job costs seconds; the refused join costs
      the cluster), otherwise it warns and proceeds.
    - ``strategy="inverted_index"``: delegate unconditionally.

    Prefix-filtering theorem: order each doc's shingles by one global
    total order (here: ascending document frequency, shingle string as
    tiebreak) and keep only the first |x| - ceil(t*|x|) + 1 of them;
    any pair with J >= t must collide on at least one *prefix* shingle
    in both docs. The prefix is the doc's RAREST shingles, so join
    blocks are small by construction — the frequency order is doing
    the same work the LSH band cap does adversarially, but without
    giving up exactness.

    Two corpus-shingle shuffles, both narrow: shingles are first
    hashed to 60-bit BIGINTs (md5 idiom — same value in the oracle, so
    parity is exact by construction even in the astronomically
    unlikely collision case), which roughly halves every shuffle
    payload vs raw 3-word strings. Document frequency comes from a
    count-over-window on the shingle key — it rides the SAME exchange
    the prefix self-join needs (the ngram cap idiom) instead of a
    groupBy + join-back (measured: the join-back variant was a third
    corpus shuffle, +40%; persisting the explode lost even harder —
    17 s first-run cache materialization for a table consumed by
    cheap recomputes). The per-doc prefix rank windows on doc_id
    (high-cardinality, no skew); verification is the candidate-
    restricted intersection count minhash_lsh_pairs uses, same
    no-arrays-in-shuffles rule.

    ``max_token_df`` is the 100 TB hot-shingle guard, with
    ngram_jaccard_pairs' EXACT cap semantics so the capped twins stay
    output-identical (pinned in pytest): shingles above the df cap are
    dropped from both candidate generation and verification while
    ``n_sh`` keeps counting ALL shingles. No false negatives w.r.t.
    the capped score: the prefix length m - ceil(t*m) + 1 is monotone
    in m, so computing it from the FULL size over the survivor ranking
    only lengthens prefixes. The catalog query runs uncapped so the
    oracle replays exact semantics; the capped path's wall/recall at
    the 30x/100x probes is recorded in SCALE.md.
    """
    from pyspark.sql.window import Window

    resolved = jaccard_pair_strategy(threshold, strategy, route_threshold)
    if resolved == "inverted_index":
        return ngram_jaccard_pairs(
            df, text_col, id_col, n=n, threshold=threshold,
            max_token_df=max_token_df)
    guard_candidates = (strategy == "allpairs"
                        and threshold < route_threshold
                        and candidate_cap_per_doc is not None)

    ex = (_shingle_arrays(df, text_col, id_col, n)
          .select(F.col(id_col), F.col("n_sh"),
                  F.explode("shingles").alias("sh"))
          .select(id_col, "n_sh", F.expr(BASE_HASH_SPARK).alias("sh")))
    # document frequency rides the shingle-key exchange either way;
    # under the cap it also gates the verification arms below
    ex = ex.withColumn("df", F.count("*").over(Window.partitionBy("sh")))
    if max_token_df is not None:
        ex = ex.where(F.col("df") <= max_token_df)
    ranked = ex.withColumn("rn", F.row_number().over(
        Window.partitionBy(id_col).orderBy("df", "sh")))
    ex = ex.drop("df")
    prefix = ranked.where(
        F.expr(f"rn <= n_sh - ceil({threshold} * n_sh) + 1"))
    if guard_candidates:
        # forced below the routing bar: the prefix df histogram gives
        # an upper bound on the candidate join's output for the cost
        # of one tiny aggregate job — seconds, vs the cluster-melting
        # join it prevents (t=0.5 100x probe: ENOSPC pre-length-filter,
        # 463 s / ~45 GB spill after — SCALE.md r8)
        import warnings

        est = (prefix.groupBy("sh")
               .agg(F.count("*").alias("c"))
               .agg(F.sum(F.expr("CAST(c AS DOUBLE) * (c - 1) / 2"))
                    .alias("e"))
               .first()["e"]) or 0.0
        n_docs = df.select(id_col).distinct().count() or 1
        cap = float(candidate_cap_per_doc) * n_docs
        guidance = (
            f"allpairs_jaccard_pairs forced at threshold={threshold} "
            f"(below route_threshold={route_threshold}): prefix "
            "filtering is pair-density-bound at moderate thresholds — "
            "use strategy='auto' (routes to the output-identical "
            "inverted-index join) or minhash_lsh_pairs at corpus scale")
        if est > cap:
            raise ValueError(
                f"{guidance}; estimated candidate volume "
                f"{est:.3g} pairs exceeds candidate_cap_per_doc="
                f"{candidate_cap_per_doc} x {n_docs} docs = {cap:.3g} "
                "(raise candidate_cap_per_doc or pass "
                "candidate_cap_per_doc=None to override)")
        warnings.warn(guidance, stacklevel=2)
    # the classic AllPairs LENGTH filter prunes candidates inside the
    # join: J(A,B) <= min/max, so |B| must lie in [t*|A|, |A|/t] —
    # exactness-preserving (pairs outside the band cannot reach t) and
    # strictly shrinking the distinct's input, the operator's true
    # spill bomb at scale (SCALE.md r8)
    cand = (
        prefix.select(F.col(id_col).alias("doc_a"),
                      F.col("n_sh").alias("la"), "sh")
        .join(prefix.select(F.col(id_col).alias("doc_b"),
                            F.col("n_sh").alias("lb"), "sh"), "sh")
        .where(f"doc_a < doc_b AND lb >= ceil({threshold} * la)"
               f" AND la >= ceil({threshold} * lb)")
        .select("doc_a", "doc_b")
        .distinct())
    a = ex.select(F.col(id_col).alias("doc_a"),
                  F.col("n_sh").alias("n_a"), "sh")
    b = ex.select(F.col(id_col).alias("doc_b"),
                  F.col("n_sh").alias("n_b"), "sh")
    return (
        cand.join(a, "doc_a").join(b, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"),
             F.first("n_a").alias("n_a"),
             F.first("n_b").alias("n_b"))
        .where(f"CAST(n_common AS DOUBLE) / (n_a + n_b - n_common)"
               f" >= {threshold}")
        .withColumn("jaccard", F.expr(
            "round(CAST(n_common AS DOUBLE) / (n_a + n_b - n_common), 6)"))
        .select("doc_a", "doc_b", "jaccard")
    )


def minshingle_neighbor_pairs(
    df: DataFrame, text_col: str, id_col: str,
    n: int = 3, width: int = 2, threshold: float = 0.5,
) -> DataFrame:
    """Sorted-neighborhood blocking (the classic windowed ER method,
    Hernandez & Stolfo 1995) keyed by each doc's MINIMUM hashed
    shingle: docs sharing their min shingle — which near-duplicates do
    with probability >= their Jaccard, the 1-hash MinHash collision
    bound — sort by id inside the block and only the ``width`` nearest
    neighbors become candidates, then exact Jaccard verifies. The
    cheapest member of the blocking family: ONE window over a
    high-cardinality block key and at most ``width`` candidates per
    doc, total output O(n * width) before verification — no self-join
    at all. Recall trades accordingly (a doc's near-dup must share the
    min shingle AND sit within the neighborhood); the pytest pins the
    recall floor against the exact inverted-index pairs.

    Lockfile note (the r12 2->3 hash-exchange raise, adjudicated r13):
    the old 2-exchange plan only got there by broadcasting the
    corpus-sized exploded shingle relation into the verification join
    (BuildRight on ``a``) — free at sf0.001, an unbroadcastable build
    at any real scale. The r12 ``_shingle_arrays`` alignment shifted
    the size estimate so the planner now broadcasts the BOUNDED
    candidate list (O(n*width) rows) instead, and the pair aggregation
    pays its own exchange of pair-sized partial rows. One more
    exchange on paper; strictly the scale-sane build side."""
    from pyspark.sql.window import Window

    h = ("CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)")
    arrays = _shingle_arrays(df, text_col, id_col, n)
    blocks = arrays.select(
        F.col(id_col),
        F.expr(f"array_min(transform(shingles, s -> {h}))").alias("blk"))
    w = Window.partitionBy("blk").orderBy(id_col)
    # window exprs can't sit inside a generator's argument — compute
    # the lead columns first, explode in a second projection
    nb = blocks.select(
        F.col(id_col).alias("doc_a"),
        *[F.lead(id_col, k).over(w).alias(f"n{k}")
          for k in range(1, width + 1)])
    leads = nb.select(
        "doc_a",
        F.explode(F.array(*[F.col(f"n{k}")
                            for k in range(1, width + 1)])).alias("doc_b"))
    cand = leads.where("doc_b IS NOT NULL").distinct()
    ex = arrays.select(F.col(id_col), F.col("n_sh"),
                       F.explode("shingles").alias("sh"))
    a = ex.select(F.col(id_col).alias("doc_a"),
                  F.col("n_sh").alias("n_a"), "sh")
    b = ex.select(F.col(id_col).alias("doc_b"),
                  F.col("n_sh").alias("n_b"), "sh")
    return (
        cand.join(a, "doc_a").join(b, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"),
             F.first("n_a").alias("n_a"),
             F.first("n_b").alias("n_b"))
        .where(f"CAST(n_common AS DOUBLE) / (n_a + n_b - n_common)"
               f" >= {threshold}")
        .withColumn("jaccard", F.expr(
            "round(CAST(n_common AS DOUBLE) / (n_a + n_b - n_common), 6)"))
        .select("doc_a", "doc_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame, text_col: str, id_col: str,
    n: int = 3, threshold: float = 0.6,
    max_token_df: int | None = None,
) -> DataFrame:
    """DIRECTIONAL near-duplicate detection: ordered pairs
    (doc_inner, doc_outer) whose shingle containment
    C(inner -> outer) = |S_inner ∩ S_outer| / |S_inner| >= threshold.

    Containment is the sub-document relation Jaccard misses: a short
    doc fully embedded in a long one (quoted article, excerpt + added
    commentary, template wrapping real content) has J ≈ |A|/|B| — far
    below any Jaccard threshold — but containment 1.0 from the short
    side. Training-data curation wants exactly this signal to drop the
    superseded fragment and keep the superset document.

    Plan shape is ngram_jaccard_pairs' inverted-index topology
    unchanged (one shingle explode, one equi self-join on the shingle,
    one pair aggregation — |A ∩ B| falls out of the join, set sizes
    ride along): the only difference is POST-aggregation — each
    undirected candidate fans out into its two directions (a 2-element
    explode of an already pair-sized relation, no new shuffle) and the
    filter divides by the inner side's size instead of the union. The
    ``max_token_df`` guard is the same 100 TB quadratic-melt switch
    documented on ngram_jaccard_pairs.

    Threshold semantics follow the catalog convention: the UNROUNDED
    ratio is compared; ``containment`` is rounded for display only."""
    und = _shingle_pair_counts(df, text_col, id_col, n, max_token_df)
    directed = und.select(
        F.expr("explode(array("
               "struct(doc_a AS doc_inner, doc_b AS doc_outer,"
               "       n_a AS n_inner),"
               "struct(doc_b AS doc_inner, doc_a AS doc_outer,"
               "       n_b AS n_inner)))").alias("d"),
        "n_common").select("d.*", "n_common")
    return (
        directed
        .where(f"CAST(n_common AS DOUBLE) / n_inner >= {threshold}")
        .withColumn("containment", F.expr(
            "round(CAST(n_common AS DOUBLE) / n_inner, 6)"))
        .select("doc_inner", "doc_outer", "containment")
    )

"""Property-based tests (hypothesis) for the pure-Python reliability
primitives — fast, no Spark session needed."""

from hypothesis import given, settings
from hypothesis import strategies as st

from oracle_cassandra_migrator_spark.reliability.retry import retry


@settings(max_examples=50, deadline=None)
@given(
    retries=st.integers(min_value=1, max_value=8),
    delay=st.floats(min_value=0.0, max_value=10.0, allow_nan=False),
    backoff=st.floats(min_value=1.0, max_value=4.0, allow_nan=False),
    fail_times=st.integers(min_value=0, max_value=10),
)
def test_retry_attempt_and_backoff_invariants(retries, delay, backoff,
                                              fail_times):
    """For any config: total attempts = min(fail_times + 1, retries);
    success iff fail_times < retries; sleeps follow delay * backoff^i."""
    waits = []
    calls = {"n": 0}

    @retry(retries=retries, delay=delay, backoff=backoff,
           sleep=waits.append)
    def sometimes():
        calls["n"] += 1
        if calls["n"] <= fail_times:
            raise IOError("boom")
        return "ok"

    if fail_times < retries:
        assert sometimes() == "ok"
        assert calls["n"] == fail_times + 1
        assert len(waits) == fail_times
    else:
        try:
            sometimes()
            raised = False
        except IOError:
            raised = True
        assert raised
        assert calls["n"] == retries
        assert len(waits) == retries - 1
    for i, w in enumerate(waits):
        assert abs(w - delay * backoff ** i) < 1e-6 * max(1.0, delay)


@settings(max_examples=5, deadline=None)
@given(
    strings=st.lists(
        st.text(
            # printable-ish, excluding surrogates; length() in Spark
            # counts codepoints like Python len()
            alphabet=st.characters(blacklist_categories=("Cs",),
                                   min_codepoint=32),
            min_size=0, max_size=30),
        min_size=1, max_size=20),
    keep=st.integers(1, 6),
)
def test_spark_mask_matches_python_reference(spark, strings, keep):
    """The Spark masking expression agrees with the obvious Python
    reference on arbitrary unicode inputs (one Spark job per example,
    batched over the generated list)."""
    from oracle_cassandra_migrator_spark.operators.masking import (
        mask_keep_last_expr,
    )

    df = spark.createDataFrame([(i, s) for i, s in enumerate(strings)],
                               "id INT, s STRING")
    got = {r.id: r.m for r in df.selectExpr(
        "id", f"{mask_keep_last_expr('s', keep)} AS m").collect()}
    for i, s in enumerate(strings):
        expected = s if len(s) <= keep else "*" * (len(s) - keep) + s[-keep:]
        assert got[i] == expected, (s, keep)


@settings(max_examples=25, deadline=None)
@given(
    ids=st.lists(st.integers(min_value=0, max_value=10 ** 12),
                 unique=True, min_size=1, max_size=200),
    r1=st.integers(min_value=0, max_value=100),
    r2=st.integers(min_value=0, max_value=100),
)
def test_threshold_hash_sampling_monotone_deterministic(ids, r1, r2):
    """The property RNG sampling cannot give: survivors at a lower rate
    are a SUBSET of survivors at a higher rate (raising a stratum's
    rate only adds documents), rate 100% keeps everything, and repeat
    evaluation returns identical survivors. Checked through the same
    SQL the oracle uses (DuckDB, no Spark needed)."""
    import duckdb

    from oracle_cassandra_migrator_spark.operators.sampling import (
        hash_bucket_sql,
    )

    lo, hi = sorted((r1, r2))
    con = duckdb.connect()
    con.execute("CREATE TABLE t(id BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(i,) for i in ids])
    bucket = hash_bucket_sql("id", 100)

    def survivors(rate):
        return {row[0] for row in con.execute(
            f"SELECT id FROM t WHERE ({bucket}) < {rate}").fetchall()}

    s_lo, s_hi = survivors(lo), survivors(hi)
    assert s_lo <= s_hi
    assert survivors(lo) == s_lo
    assert survivors(100) == set(ids)


@settings(max_examples=50, deadline=None)
@given(bits=st.integers(min_value=1, max_value=128),
       d=st.integers(min_value=0, max_value=16))
def test_pigeonhole_widths_partition_the_hash(bits, d):
    """d+1 blocks must exactly tile the hash (sum == bits) with
    near-equal widths (max-min <= 1); any violation breaks the
    'within distance d -> some block equal' candidate guarantee."""
    from oracle_cassandra_migrator_spark.operators.dedup import (
        pigeonhole_widths,
    )

    w = pigeonhole_widths(bits, d + 1)
    assert len(w) == d + 1
    assert sum(w) == bits
    assert max(w) - min(w) <= 1


@settings(max_examples=300, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(min_value=0, max_value=5),   # group
                  st.integers(min_value=0, max_value=20),  # score (ties!)
                  st.integers(min_value=0, max_value=7)),  # salt
        max_size=200),
    n=st.integers(min_value=1, max_value=5),
)
def test_salted_cap_equals_plain_for_any_salt_assignment(rows, n):
    """The mathematical core of operators/curation.cap_per_group_salted:
    for ANY deterministic salt assignment (hypothesis draws it
    adversarially), pruning to the per-(group, salt) top-n and then
    re-ranking the survivors per group yields exactly the plain
    per-group top-n — ranks included — under a total order."""
    items = [(g, score, i, s) for i, (g, score, s) in enumerate(rows)]
    key = lambda it: (-it[1], it[2])  # score desc, id asc — total order

    def topn_ranked(seq):
        out = {}
        groups = {}
        for it in seq:
            groups.setdefault(it[0], []).append(it)
        for g, members in groups.items():
            for rank, it in enumerate(sorted(members, key=key)[:n], 1):
                out[it[2]] = (g, rank)
        return out

    plain = topn_ranked(items)

    stage1 = {}
    for it in items:
        stage1.setdefault((it[0], it[3]), []).append(it)
    survivors = []
    for members in stage1.values():
        survivors.extend(sorted(members, key=key)[:n])
    salted = topn_ranked(survivors)

    assert salted == plain


@given(
    st.lists(st.integers(min_value=-10**6, max_value=10**6),
             min_size=1, max_size=200),
    st.integers(min_value=2, max_value=8),
)
@settings(max_examples=200, deadline=None)
def test_two_pass_quantile_bucketing_invariants(vals, k):
    """The mathematical core of operators/quantiles: with
    percentile_disc boundaries (smallest value with cume_dist >= p)
    and strict-> bucket assignment, (1) every row lands in a bucket in
    [1, k]; (2) assignment is monotone in the value; (3) rows equal to
    a boundary land in the LOWER bucket; (4) bucket populations never
    exceed ceil(n/k) by more than the multiplicity of a single tied
    value (the discrete-quantile tie bound)."""
    n = len(vals)
    svals = sorted(vals)
    ps = [i / k for i in range(1, k)]
    # percentile_disc: smallest value whose cume_dist >= p
    import math
    bounds = [svals[max(0, math.ceil(p * n) - 1)] for p in ps]
    assert bounds == sorted(bounds)

    def bucket(x):
        return 1 + sum(1 for b in bounds if x > b)

    buckets = [bucket(x) for x in svals]
    assert all(1 <= b <= k for b in buckets)
    assert buckets == sorted(buckets)  # monotone in value
    for b in bounds:
        assert bucket(b) == 1 + sum(1 for bb in bounds if b > bb)
    from collections import Counter
    pop = Counter(buckets)
    tie_bound = max(Counter(svals).values())
    for j in range(1, k + 1):
        assert pop.get(j, 0) <= math.ceil(n / k) + tie_bound


@settings(max_examples=5, deadline=None)
@given(
    texts=st.lists(
        st.lists(st.sampled_from(["alpha", "beta", "gamma", "delta",
                                  "epsilon", "zeta"]),
                 min_size=3, max_size=12).map(" ".join),
        min_size=2, max_size=8),
    threshold=st.sampled_from([0.4, 0.6, 0.8]),
)
def test_containment_pairs_match_bruteforce_property(spark, texts,
                                                     threshold):
    """Property: containment_pairs equals the brute-force directional
    shingle-containment computation on arbitrary small corpora —
    including repeated-word texts where distinct-shingle semantics
    matter, and the one-direction-only asymmetry."""
    from oracle_cassandra_migrator_spark.operators.dedup import (
        containment_pairs)

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    got = {(r["doc_inner"], r["doc_outer"]): r["containment"]
           for r in containment_pairs(
               df, "text", "doc_id", n=3, threshold=threshold).collect()}

    def sh(t):
        w = t.lower().split()
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    want = {}
    for i, a in enumerate(texts):
        for j, b in enumerate(texts):
            if i == j or not sh(a):
                continue
            c = len(sh(a) & sh(b)) / len(sh(a))
            if c >= threshold and len(sh(a) & sh(b)) > 0:
                want[(i, j)] = round(c, 6)
    assert got == want


# ---------------------------------------------------------------------------
# Round-7 pure-Python pieces
# ---------------------------------------------------------------------------

@settings(max_examples=100, deadline=None)
@given(
    counts=st.lists(st.integers(min_value=0, max_value=10 ** 9),
                    min_size=1, max_size=20),
    total_pad=st.integers(min_value=0, max_value=10 ** 6),
)
def test_dsir_ln_micro_is_monotone_and_negative(counts, total_pad):
    """_ln_micro is a smoothed log-probability in micro units: strictly
    increasing in count at fixed total, and <= 0 whenever
    count + 0.5 <= total + B/2 (probabilities never exceed 1)."""
    from oracle_cassandra_migrator_spark.operators.importance import (
        DSIR_BUCKETS, _ln_micro)

    total = sum(counts) + total_pad
    vals = [_ln_micro(c, total) for c in sorted(set(counts))]
    assert vals == sorted(vals)
    for c in counts:
        if c + 0.5 <= total + DSIR_BUCKETS / 2.0:
            assert _ln_micro(c, total) <= 0


@settings(max_examples=50, deadline=None)
@given(
    n_pairs=st.integers(min_value=1, max_value=60),
    threshold=st.floats(min_value=0.05, max_value=0.95,
                        allow_nan=False),
)
def test_neardedup_estimate_predicate_counts_equal_components(
        n_pairs, threshold):
    """The SQL estimate predicate must be exactly
    (#equal components) / K >= threshold, ceil'd to integers — checked
    against a Python reference on random signatures."""
    import math
    import random

    from oracle_cassandra_migrator_spark.streaming.neardedup import (
        K, _estimate_ge)

    rng = random.Random(n_pairs * 1000 + int(threshold * 100))
    pred = _estimate_ge(threshold)
    need = math.ceil(threshold * K - 1e-9)
    # evaluate the generated SQL with plain python substitution
    for _ in range(n_pairs):
        a = [rng.randrange(5) for _ in range(K)]
        b = [rng.randrange(5) for _ in range(K)]
        expr = pred
        for i in range(K - 1, -1, -1):
            expr = expr.replace(f"am{i}", str(a[i])).replace(
                f"bm{i}", str(b[i]))
        expr = expr.replace("CASE WHEN", "(1 if").replace(
            "THEN 1 ELSE 0 END", "else 0)").replace("=", "==").replace(
            ">==", ">=")
        got = eval(expr)
        eq = sum(1 for x, y in zip(a, b) if x == y)
        assert got == (eq >= need), (a, b, threshold)


@settings(max_examples=30, deadline=None)
@given(
    width=st.integers(min_value=1, max_value=300),
    height=st.integers(min_value=1, max_value=300),
    channels=st.integers(min_value=1, max_value=2),
    rate=st.sampled_from([8000, 16000, 44100]),
    frames=st.integers(min_value=1, max_value=5000),
)
def test_multimodal_builders_roundtrip_any_geometry(
        width, height, channels, rate, frames):
    from oracle_cassandra_migrator_spark.operators import multimodal as mm

    assert mm.decode_header(mm.build_bmp(width, height)) == (
        "bmp", width, height, None, None, None)
    assert mm.decode_header(mm.build_ppm(width, height)) == (
        "ppm", width, height, None, None, None)
    assert mm.decode_header(mm.build_wav(channels, rate, frames)) == (
        "wav", None, None, channels, rate, frames * 1000 // rate)
    assert mm.decode_header(mm.build_png(width, height)) == (
        "png", width, height, 3, None, None)
    gw, gh = min(width, 65535), min(height, 65535)
    assert mm.decode_header(mm.build_gif(gw, gh)) == (
        "gif", gw, gh, None, None, None)
    assert mm.decode_header(mm.build_jpeg(
        gw, gh, channels=channels, progressive=bool(frames % 2))) == (
        "jpeg", gw, gh, channels, None, None)
    ww, wh = min(width, 16383), min(height, 16383)  # 14-bit dims
    alpha = bool(frames % 2)
    assert mm.decode_header(mm.build_webp_vp8(ww, wh)) == (
        "webp", ww, wh, 3, None, None)
    assert mm.decode_header(mm.build_webp_vp8l(ww, wh, alpha=alpha)) == (
        "webp", ww, wh, 3 + alpha, None, None)
    assert mm.decode_header(mm.build_webp_vp8x(width, height,
                                               alpha=alpha)) == (
        "webp", width, height, 3 + alpha, None, None)
    # r12: MP4 box tree — canvas from tkhd, track count -> channels,
    # duration over the mvhd timescale
    assert mm.decode_header(mm.build_mp4(
        width, height, n_tracks=channels, timescale=rate,
        duration=frames, mdat_len=frames % 64)) == (
        "mp4", width, height, channels, None, frames * 1000 // rate)
    # r12: FLAC STREAMINFO bit fields + exact two-block byte length
    flac = mm.build_flac(channels, rate, frames, pad_len=frames % 64)
    assert mm.decode_header(flac) == (
        "flac", None, None, channels, rate, frames * 1000 // rate)
    assert len(flac) == 46 + frames % 64
    # r12: TIFF round-trips through BOTH byte orders — same decoded
    # values, and the exact 98 + data_len arithmetic either way
    for big in (False, True):
        tiff = mm.build_tiff(width, height, channels=channels,
                             data_len=frames % 97, big_endian=big)
        assert mm.decode_header(tiff) == (
            "tiff", width, height, channels, None, None)
        assert len(tiff) == 98 + frames % 97
    # r12: Ogg — Vorbis durations tick on the stream's own sample
    # rate, Opus on the fixed 48 kHz granule clock
    ogv = mm.build_ogg_vorbis(channels, rate, frames)
    assert mm.decode_header(ogv) == (
        "ogg", None, None, channels, rate, frames * 1000 // rate)
    assert len(ogv) == 86
    ogo = mm.build_ogg_opus(channels, rate, frames)
    # Opus: duration subtracts OpusHead's 312-sample pre-skip (RFC
    # 7845) on the fixed 48 kHz granule clock
    assert mm.decode_header(ogo) == (
        "ogg", None, None, channels, rate,
        max(frames - 312, 0) * 1000 // 48000)
    assert len(ogo) == 75
    # r12: MP3 — frame walk against the real tables; duration from the
    # 1152-samples-per-frame count
    for mrate in mm.MP3_RATES:
        nf = 1 + frames % 40
        p3 = mm.build_mp3(channels, mrate, nf)
        assert mm.decode_header(p3) == (
            "mp3", None, None, channels, mrate,
            nf * 1152 * 1000 // mrate)
        assert len(p3) == nf * (144 * 128000 // mrate)


@settings(max_examples=100, deadline=None)
@given(data=st.binary(max_size=200))
def test_decode_header_never_raises_on_fuzz(data):
    """Arbitrary bytes (including ones starting with the magic
    prefixes) must decode or quarantine, never raise — a corrupt
    payload at 100 TB must not kill a task."""
    from oracle_cassandra_migrator_spark.operators import multimodal as mm

    for prefix in (b"", b"BM", b"P6", b"RIFF", b"RIFF1234WAVE",
                   b"\x89PNG\r\n\x1a\n", b"GIF89a", b"GIF87a",
                   b"\xff\xd8", b"\xff\xd8\xff\xe0", b"\xff\xd8\xff\xc0",
                   b"RIFF1234WEBP", b"RIFF1234WEBPVP8 ",
                   b"RIFF1234WEBPVP8L", b"RIFF1234WEBPVP8X",
                   b"\x00\x00\x00\x18ftyp", b"\x00\x00\x00\x18ftypisom",
                   b"\x00\x00\x00\x10ftypisom\x00\x00\x00\x01moov",
                   b"\x00\x00\x00\x08ftyp\x00\x00\x00\x00moov",
                   b"fLaC", b"fLaC\x00\x00\x00\x22",
                   b"fLaC\x80\x00\x00\x22", b"fLaC\x01\x00\x00\x00",
                   b"II*\x00", b"MM\x00*", b"II*\x00\x08\x00\x00\x00",
                   b"MM\x00*\x00\x00\x00\x08",
                   b"OggS", b"OggS\x00\x02", b"OggS\x00\x02" + b"\x00" * 21
                   + b"\x01\x07\x01vorbis",
                   b"\xff\xfb", b"\xff\xfb\x92\xc0", b"\xff\xe2\x00\x00",
                   b"\xff\xfb\xf0\x00", b"\xff\xfb\x9c\x00"):
        got = mm.decode_header(prefix + data)
        assert isinstance(got, tuple) and len(got) == 6


def test_decode_header_truncated_riff_quarantines():
    """A 'fmt ' chunk that declares 16 bytes but carries 4 used to
    escape the fuzz and raise struct.error from unpack_from, failing
    the whole task on one bad file (ADVICE r7). It must quarantine."""
    import struct

    from oracle_cassandra_migrator_spark.operators import multimodal as mm

    p = (b"RIFF" + struct.pack("<I", 36) + b"WAVE"
         + b"fmt " + struct.pack("<I", 16) + b"\x01\x00\x01\x00")
    assert mm.decode_header(p) == (
        "unknown", None, None, None, None, None)


# ---------------------------------------------------------------------------
# r8 protocol algebra: manifest schema evolution + CDC filename offsets
# ---------------------------------------------------------------------------

_FIELD_NAMES = st.lists(
    st.text(alphabet="abcdefgh", min_size=1, max_size=4),
    min_size=1, max_size=6, unique=True)
_TYPES_POOL = ["bigint", "int", "string", "double"]


@settings(max_examples=60, deadline=None)
@given(prev_names=_FIELD_NAMES, new_names=_FIELD_NAMES,
       data=st.data())
def test_evolved_schema_ddl_union_algebra(spark, prev_names, new_names,
                                           data):
    """(spark fixture: DDL parsing goes through the JVM.)
    _evolved_schema_ddl is an order-preserving union: previous
    fields keep their positions and types, genuinely-new fields append
    in batch order, same-type re-appearances are no-ops, and applying
    the same batch twice is idempotent. A type change raises."""
    from pyspark.sql.types import StructField, StructType, _parse_datatype_string

    from oracle_cassandra_migrator_spark.streaming.partitioned import (
        _evolved_schema_ddl)

    types = {n: data.draw(st.sampled_from(_TYPES_POOL), label=f"t_{n}")
             for n in set(prev_names) | set(new_names)}
    prev_ddl = ", ".join(f"{n} {types[n]}" for n in prev_names)
    merged = StructType([
        StructField(n, _parse_datatype_string(types[n]))
        for n in new_names])

    out = _evolved_schema_ddl(prev_ddl, merged)
    got = [p.strip().split() for p in out.split(",")]
    want_names = prev_names + [n for n in new_names
                               if n not in prev_names]
    assert [g[0] for g in got] == want_names
    assert all(g[1] == types[g[0]] for g in got)
    # idempotent: evolving the result by the same batch changes nothing
    assert _evolved_schema_ddl(out, merged) == out

    # a re-appearing field with a different type must raise
    clash = [n for n in new_names if n in prev_names]
    if clash:
        n0 = clash[0]
        other = next(t for t in _TYPES_POOL if t != types[n0])
        bad = StructType([StructField(n0, _parse_datatype_string(other))])
        import pytest as _pytest

        with _pytest.raises(ValueError, match="type conflict"):
            _evolved_schema_ddl(out, bad)


@settings(max_examples=40, deadline=None)
@given(batches=st.lists(
    st.lists(st.integers(min_value=0, max_value=30),
             min_size=0, max_size=4),
    min_size=1, max_size=5))
def test_jsonl_stream_offsets_replay_exactly(spark, tmp_path_factory,
                                             batches):
    """Offset algebra of the CDC directory tailer (spark fixture only
    for schema parsing — reads stay driver-side pure Python):
    feeding files batch-by-batch reads each row exactly once in name
    order, and readBetweenOffsets replays every committed (start, end]
    interval byte-identically — the exactly-once recovery contract."""
    import json as _json

    from oracle_cassandra_migrator_spark.sources.pydatasource import (
        JsonlDirStreamReader)
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL("k BIGINT")
    root = tmp_path_factory.mktemp("cdc")
    reader = JsonlDirStreamReader(schema, {"path": str(root)})

    seq = 0
    offsets = [reader.initialOffset()]
    seen: list[tuple] = []
    for rows in batches:
        for k in rows:
            seq += 1
            (root / f"{seq:06d}.jsonl").write_text(
                _json.dumps({"k": k}) + "\n")
        got, end = reader.read(offsets[-1])
        got = list(got)
        assert got == [(k,) for k in rows]
        seen.extend(got)
        offsets.append(end)
    # every committed interval replays exactly
    for i in range(len(offsets) - 1):
        replay = list(reader.readBetweenOffsets(offsets[i],
                                                offsets[i + 1]))
        assert replay == [(k,) for k in batches[i]]
    # a late file below a NON-EMPTY watermark is ignored by the next
    # read (with no files consumed yet the watermark is "" and the
    # late name is legitimately new)
    if seq > 0:
        (root / "000000.jsonl").write_text(_json.dumps({"k": 99}) + "\n")
        more, _ = reader.read(offsets[-1])
        assert list(more) == []


# ---------------------------------------------------------------------------
# r9 protocol algebra: strategy routing, live-token suffix, settle prefix
# ---------------------------------------------------------------------------

@settings(max_examples=200, deadline=None)
@given(threshold=st.floats(min_value=0.0, max_value=1.0),
       bar=st.floats(min_value=0.0, max_value=1.0))
def test_strategy_decision_total_and_monotone(threshold, bar):
    """The routing decision is total over (threshold, bar), picks
    allpairs exactly on threshold >= bar, and explicit strategies are
    always honored verbatim."""
    from oracle_cassandra_migrator_spark.operators.dedup import (
        jaccard_pair_strategy)

    auto = jaccard_pair_strategy(threshold, "auto", bar)
    assert auto == ("allpairs" if threshold >= bar else "inverted_index")
    assert jaccard_pair_strategy(threshold, "allpairs", bar) == "allpairs"
    assert jaccard_pair_strategy(
        threshold, "inverted_index", bar) == "inverted_index"


class _FakeStore:
    def __init__(self, tokens):
        self._keys = [f"m/batch-{t}.marker" for t in tokens]

    def list(self, prefix, suffix=""):
        return [k for k in self._keys if k.endswith(suffix)]


@settings(max_examples=200, deadline=None)
@given(batches=st.lists(st.integers(min_value=0, max_value=30),
                        unique=True, max_size=12),
       compactions=st.lists(
           st.tuples(st.integers(min_value=0, max_value=30),
                     st.integers(min_value=1, max_value=3)),
           unique=True, max_size=4))
def test_live_tokens_is_suffix_from_last_compaction(batches, compactions):
    """For ANY committed token set, the live set is the ordered suffix
    starting at the latest compaction token (everything earlier is
    superseded); with no compaction, everything is live. Exactly the
    invariant read_state/compact/vacuum all rest on."""
    from oracle_cassandra_migrator_spark.streaming.neardedup import (
        _live_tokens)
    from oracle_cassandra_migrator_spark.streaming.fingerprint import (
        token_key)

    tokens = sorted(
        [str(b) for b in batches]
        + [f"{b}c{k}" for b, k in compactions], key=token_key)
    live = _live_tokens(_FakeStore(tokens), "m")
    comp_idx = [i for i, t in enumerate(tokens) if "c" in t]
    want = tokens if not comp_idx else tokens[comp_idx[-1]:]
    assert live == want


@settings(max_examples=40, deadline=None)
@given(spec=st.lists(st.booleans(), max_size=8),
       consumed=st.integers(min_value=0, max_value=8))
def test_settle_prefix_watermark_never_skips(tmp_path_factory, spec,
                                             consumed):
    """For ANY settled/unsettled pattern and ANY committed watermark:
    the batch consumes exactly the contiguous settled prefix of the
    ABOVE-watermark names — nothing below the first unsettled fresh
    file, and files at/below the watermark never block or re-deliver."""
    import json
    import os as _os
    import time as _time

    from oracle_cassandra_migrator_spark.sources.pydatasource import (
        JsonlDirStreamReader)

    d = tmp_path_factory.mktemp("settle")
    old = _time.time() - 3600
    names = [f"f{i:02d}.jsonl" for i in range(len(spec))]
    for i, name in enumerate(names):
        (d / name).write_text(json.dumps(
            {"event_id": i, "event_type": "view", "value": 0.0}) + "\n")
        if spec[i]:
            _os.utime(d / name, (old, old))
    consumed = min(consumed, len(spec))
    start = {"last": names[consumed - 1] if consumed else ""}
    reader = JsonlDirStreamReader.__new__(JsonlDirStreamReader)
    reader.names = ["event_id", "event_type", "value"]
    reader.path = str(d)
    reader.settle_seconds = 60.0
    rows, end = reader.read(start)
    above = list(range(consumed, len(spec)))
    want = []
    for i in above:
        if not spec[i]:
            break
        want.append(i)
    assert [r[0] for r in rows] == want
    assert end == {"last": names[want[-1]] if want else start["last"]}

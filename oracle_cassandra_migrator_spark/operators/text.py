"""Text-analysis building blocks: normalization, tokenization, word
n-gram shingles, fingerprints, quality features, language heuristics.

Everything is expressed as Spark SQL expression strings over built-in
functions (whole-stage-codegen'd, no Python in the hot path) so the
same logic scales to 100 TB and is mirrorable 1:1 in the DuckDB
correctness oracles. Shingle indexing is deliberately 1-based
(``element_at``) to match SQL list semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Collapse whitespace, lowercase, trim: the canonical form used by the
# exact-dedup fingerprint and all shingle-based dedup.
def normalize_expr(col: str) -> str:
    return f"trim(regexp_replace(lower({col}), '\\\\s+', ' '))"


def words_expr(col: str) -> str:
    return f"split({normalize_expr(col)}, ' ')"


def fast_words_expr(col: str) -> str:
    """Same word list as words_expr but ~3.5x cheaper: one regex split
    with empty-token filtering instead of a full-text regexp_replace
    normalization pass. Used on the shingle hot path."""
    return f"filter(split(lower({col}), '\\\\s+'), x -> x != '')"


def shingles_from_words_expr(words_col: str, n: int = 3) -> str:
    """Distinct word n-gram shingles from an already-materialized words
    array column (empty when the doc has fewer than n words). Taking a
    *column* matters: inlining the split/regex expression here would
    re-run the full-text regex once per element_at call — ~3x per
    shingle — instead of once per document."""
    w = words_col
    parts = ", ".join(f"element_at({w}, i + {k})" for k in range(n))
    return (
        f"CASE WHEN size({w}) >= {n} THEN "
        f"array_distinct(transform(sequence(1, size({w}) - {n - 1}), "
        f"i -> concat_ws(' ', {parts}))) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def shingles_once_expr(text_col: str, n: int = 3) -> str:
    """Shingles with the word array bound ONCE via a lambda variable:
    ``transform(array(words), w -> ...)`` evaluates the split exactly
    once per row no matter how many times the body references ``w``.
    A plain words *column* is not enough — CollapseProject classifies
    split+filter as cheap and re-inlines it into every element_at
    reference (measured 5x the split cost)."""
    return (
        f"element_at(transform(array({fast_words_expr(text_col)}), "
        f"w -> {shingles_from_words_expr('w', n)}), 1)"
    )


def with_shingles(df: DataFrame, text_col: str, n: int = 3,
                  out: str = "shingles") -> DataFrame:
    # Shingling is CPU-heavy per row; when the source arrives in fewer
    # partitions than cores (single parquet row-group, small dimension
    # staging), fan out first — one cheap shuffle of the raw text buys
    # full parallelism for the regex/array work.
    sc = df.sparkSession.sparkContext
    if _scan_parallelism(df) < sc.defaultParallelism // 2:
        df = df.repartition(sc.defaultParallelism)
    return df.withColumn(out, F.expr(shingles_once_expr(text_col, n)))


def _scan_parallelism(df: DataFrame) -> int:
    """How many tasks can scan ``df`` in parallel: for local parquet
    files the footers' row-group count (the hard ceiling on scan
    parallelism), read through the same lru-cached pyarrow path as
    read_table's fan-out gate — ~10 ms per plan vs ~37 ms for the
    ``df.rdd.getNumPartitions()`` probe (RDD conversion), both inside
    the timed region of every shingle consumer. Every other source —
    in-memory frames, JSON/CSV/text files, non-``file:`` URIs — takes
    the RDD probe. ``inputFiles`` returns percent-encoded URIs (a space
    in a directory name is ``%20``), so paths are unquoted before
    pyarrow opens them."""
    from urllib.parse import unquote, urlparse

    from oracle_cassandra_migrator_spark.sources.testdata import (
        _row_group_count)

    files = df.inputFiles()
    if files and all(f.startswith("file:") for f in files):
        try:
            return sum(_row_group_count(unquote(urlparse(f).path))
                       for f in files)
        except ValueError:  # pyarrow.ArrowInvalid: not a parquet file
            pass
    return df.rdd.getNumPartitions()


def all_shingles_expr(words_col: str, n: int = 3) -> str:
    """Word n-gram shingles WITHOUT the distinct step — the repetition
    filters need multiplicity (how often a shingle repeats inside one
    document), unlike the dedup path which only needs set semantics."""
    w = words_col
    parts = ", ".join(f"element_at({w}, i + {k})" for k in range(n))
    return (
        f"CASE WHEN size({w}) >= {n} THEN "
        f"transform(sequence(1, size({w}) - {n - 1}), "
        f"i -> concat_ws(' ', {parts})) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def max_word_count_expr(words_col: str) -> str:
    """Highest frequency of any single word in the array, computed as
    the longest equal-run over the sorted copy with one O(n log n)
    per-row fold — zero shuffle, no explode/groupBy over the corpus.
    NULL-safe equality (<=>) seeds the fold's empty 'prev'."""
    w = words_col
    step = "IF(acc.prev <=> x, acc.run + 1, 1)"
    return (
        f"aggregate(array_sort({w}), "
        f"named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0), "
        f"(acc, x) -> named_struct('prev', x, 'run', {step}, "
        f"'best', greatest(acc.best, {step})), "
        f"acc -> acc.best)"
    )


def fingerprint_expr(col: str) -> str:
    """Exact-dup fingerprint: md5 of the normalized text."""
    return f"md5({normalize_expr(col)})"


def token_count_expr(col: str) -> str:
    return f"CAST(size({words_expr(col)}) AS BIGINT)"


def prefix_fingerprint_expr(col: str, n_words: int = 20) -> str:
    """Boilerplate-header fingerprint: md5 of the first ``n_words``
    normalized words. Docs sharing it open with the same template
    (cookie banners, license headers, scraper chrome) even when their
    bodies differ — the curation signal whole-doc exact dedup misses.
    Shorter docs fingerprint their full text (slice caps at length in
    both engines)."""
    return (
        f"md5(array_join(slice({words_expr(col)}, 1, {n_words}), ' '))"
    )


def char_bigrams_expr(norm_col: str) -> str:
    """Character bigrams of an already-normalized text column (stage
    the normalization first — inlining it would re-run the regex per
    bigram)."""
    s = norm_col
    return (
        f"CASE WHEN length({s}) >= 2 THEN "
        f"transform(sequence(1, length({s}) - 1), i -> substring({s}, i, 2)) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def bigram_model(docs: DataFrame, text_col: str, id_col: str,
                 sample_mod: int = 11, sample_cap: int = 100_000):
    """Train a char-bigram language model on a bounded deterministic
    sample and return (rows, total): the KenLM-style quality-proxy
    model. The sample composes ``id % sample_mod = 0`` (a cheap
    corpus-fraction prefilter) with an ABSOLUTE ``sample_cap`` via
    bottom-k-by-salted-hash, so training cost is O(cap) at any corpus
    size — `% mod` alone is a fraction, i.e. 14 TB of "sample" at
    100 TB (VERDICT r6 item 3). Below the cap (every driver SF) the
    capped set equals the bare `% mod` set, so the trained model — and
    every green driver row scoring with it — is bit-identical. The
    model is charset^2-bounded (normalized text: ~30 chars -> <=900
    bigrams), so it collects driver-side and re-enters the scoring
    plan as a map LITERAL — training never rides along in the scoring
    DAG (same pattern as the SemDeDup codebook literal)."""
    from oracle_cassandra_migrator_spark.operators.sampling import (
        cap_by_salted_hash)

    sampled = cap_by_salted_hash(
        docs.where(f"{id_col} % {sample_mod} = 0"), id_col,
        sample_cap, "bgm-train")
    norm = sampled.select(
        F.expr(normalize_expr(text_col)).alias("s"))
    bg = norm.select(F.explode(F.expr(char_bigrams_expr("s"))).alias("bg"))
    rows = bg.groupBy("bg").agg(F.count("*").alias("cnt")).collect()
    total = sum(r["cnt"] for r in rows)
    return rows, total


def bigram_logprob_map_expr(rows, total: int) -> tuple[str, int]:
    """(map literal expr, floor_micro): per-bigram log-probability in
    integer micro-units, floor(ln(cnt/total) * 1e6 + 0.5) — the
    repo-standard half-up rounding both engines (and Python, which
    stamps the literal) implement identically with floor(). Unseen
    bigrams score at the half-count floor ln(0.5/total)."""
    import math

    if not rows or total <= 0:
        raise ValueError(
            "bigram_logprob_map_expr: empty model — the training "
            "sample produced no bigrams (check the sample predicate)")
    entries = []
    for r in sorted(rows, key=lambda r: r["bg"]):
        key = r["bg"].replace("\\", "\\\\").replace("'", "\\'")
        micro = math.floor(math.log(r["cnt"] / total) * 1e6 + 0.5)
        entries.append(f"'{key}', {micro}L")
    floor_micro = math.floor(math.log(0.5 / total) * 1e6 + 0.5)
    return "map(" + ", ".join(entries) + ")", floor_micro


def bigram_logprob_scores(
    docs: DataFrame, text_col: str, id_col: str,
    map_expr: str, floor_micro: int,
) -> DataFrame:
    """Per-doc average bigram log-probability against the literal
    model: entirely per-row (normalize, bigram, map-lookup fold in
    exact integer micro-units — order-free, no float accumulation),
    zero shuffle. Low scores flag gibberish/non-language text; this is
    the cheap stand-in for a perplexity filter."""
    norm = docs.select(id_col, F.expr(normalize_expr(text_col)).alias("s"))
    return (
        norm.withColumn("bgs", F.expr(char_bigrams_expr("s")))
        .withColumn("M", F.expr(map_expr))
        .selectExpr(
            id_col,
            "CAST(size(bgs) AS BIGINT) AS n_bigrams",
            f"round(CAST(aggregate(transform(bgs, b -> "
            f"coalesce(element_at(M, b), {floor_micro}L)), 0L, "
            f"(a, x) -> a + x) AS DOUBLE) / 1e6 "
            f"/ greatest(size(bgs), 1), 6) AS avg_logprob",
        )
    )


def hashed_words_expr(col: str, dims: int = 16) -> str:
    """Words -> (idx, sgn) structs for signed feature hashing: index
    from the md5 prefix, sign from the next hex digit's parity."""
    return (
        f"transform({words_expr(col)}, x -> named_struct("
        f"'idx', CAST(conv(substring(md5(x), 1, 15), 16, 10) AS BIGINT)"
        f" % {dims}, "
        f"'sgn', CASE WHEN CAST(conv(substring(md5(x), 16, 1), 16, 10)"
        f" AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END))"
    )


def feature_vector_expr(hw_col: str, dims: int = 16) -> str:
    """Signed-count feature vector (HashingTF with sign hashing, per
    Weinberger et al. 2009): component j = (+1 matches) - (-1 matches).
    Exact integers — no float parity risk — and strictly per-row."""
    return (
        f"transform(sequence(0, {dims - 1}), j -> CAST("
        f"size(filter({hw_col}, h -> h.idx = j AND h.sgn = 1)) - "
        f"size(filter({hw_col}, h -> h.idx = j AND h.sgn = -1)) AS BIGINT))"
    )


def bottomk_fingerprint_expr(col: str, k: int = 3) -> str:
    """Bottom-k sketch fingerprint: the k smallest md5 hashes of the
    distinct words, concatenated. A cheap locality-sensitive doc
    signature (same idea as winnowing: stable under small edits)."""
    return (
        f"array_join(slice(array_sort(transform(array_distinct("
        f"{words_expr(col)}), x -> md5(x))), 1, {k}), '')"
    )


def tfidf_topk_terms(docs: DataFrame, k: int = 3,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Top-k characteristic terms per document by tf-idf (idf =
    ln(N/df)) — the classic term-weighting primitive behind keyword
    extraction and sparse retrieval.

    Shuffle budget at 100 TB: ONE corpus-scale shuffle (the (doc, term)
    partial-count groupBy; map-side combine shrinks it to the distinct
    doc-term pairs). The document-frequency table is vocabulary-sized —
    orders of magnitude smaller than the corpus — so it joins back by
    explicit broadcast, and the per-doc top-k window partitions on the
    high-cardinality doc id (no skew). N is a one-row broadcast."""
    words = docs.select(
        id_col, F.explode(F.expr(fast_words_expr(text_col))).alias("tok"))
    tf = words.groupBy(id_col, "tok").agg(
        F.count("*").cast("bigint").alias("tf"))
    dfq = tf.groupBy("tok").agg(F.count("*").cast("bigint").alias("df"))
    total = docs.agg(F.count("*").cast("double").alias("n_docs"))
    from pyspark.sql.window import Window

    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("tok"))
    return (
        tf.join(F.broadcast(dfq), "tok")
        .crossJoin(F.broadcast(total))
        .withColumn("tfidf", F.expr("round(tf * ln(n_docs / df), 6)"))
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= k)
        .select(id_col, "tok", "tf", "tfidf", "rk")
    )


BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(docs: DataFrame, terms: list[str], k: int = 10,
              text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Okapi BM25 lexical search for a literal term set: the sparse
    complement of the embedding ANN path (sim_*). idf uses the standard
    +1 smoothing, ln((N - df + 0.5)/(df + 0.5) + 1).

    Scale shape: the corpus explode filters to the query terms BEFORE
    any shuffle, so only matching (doc, term) rows move; df (|terms|
    rows) and the (N, avgdl) scalar broadcast. Per-term scores are
    rounded to 9 dp and summed as exact decimals (order-independent),
    then one TakeOrderedAndProject emits the top-k."""
    words = docs.select(
        id_col, F.expr(fast_words_expr(text_col)).alias("w"))
    stats = words.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.expr("round(CAST(SUM(size(w)) AS DOUBLE) / COUNT(*), 6)")
        .alias("avgdl"))
    terms_lit = ", ".join(f"'{_sql_quote(t)}'" for t in terms)
    tf = (
        words.select(id_col, F.expr("CAST(size(w) AS BIGINT)").alias("dl"),
                     F.explode("w").alias("tok"))
        .where(f"tok IN ({terms_lit})")
        .groupBy(id_col, "dl", "tok")
        .agg(F.count("*").cast("bigint").alias("tf")))
    dfq = tf.groupBy("tok").agg(F.count("*").cast("bigint").alias("df"))
    idf = "ln((n_docs - df + 0.5D) / (df + 0.5D) + 1.0D)"
    tfc = (f"(tf * ({BM25_K1}D + 1.0D)) / "
           f"(tf + {BM25_K1}D * (1.0D - {BM25_B}D + {BM25_B}D * dl / avgdl))")
    return (
        tf.join(F.broadcast(dfq), "tok")
        .crossJoin(F.broadcast(stats))
        .withColumn("term_score", F.expr(f"round(({idf}) * ({tfc}), 9)"))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_terms_matched"),
            F.expr("round(CAST(SUM(CAST(term_score AS DECIMAL(20,9)))"
                   " AS DOUBLE), 6)").alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col(id_col))
        .limit(k)
    )


STOPWORDS = ["the", "a", "an", "of", "and", "to", "in", "is", "on", "for"]


def stopword_count_expr(col: str, stopwords: list[str] | None = None) -> str:
    stop = stopwords or STOPWORDS
    lit = ", ".join(f"'{_sql_quote(s)}'" for s in stop)
    return (
        f"CAST(size(filter({words_expr(col)}, "
        f"x -> array_contains(array({lit}), x))) AS BIGINT)"
    )


def quality_columns(text_col: str) -> dict[str, Column]:
    """Deterministic quality features: length, token stats, alpha/digit
    ratios, stopword ratio, and a composite score in [0, 1]."""
    n_chars = f"CAST(length({text_col}) AS DOUBLE)"
    n_alpha = f"CAST(length(regexp_replace({text_col}, '[^a-zA-Z]', '')) AS DOUBLE)"
    n_digit = f"CAST(length(regexp_replace({text_col}, '[^0-9]', '')) AS DOUBLE)"
    n_tokens = token_count_expr(text_col)
    n_stop = stopword_count_expr(text_col)
    return {
        "n_tokens": F.expr(n_tokens),
        "alpha_ratio": F.expr(f"round({n_alpha} / {n_chars}, 6)"),
        "digit_ratio": F.expr(f"round({n_digit} / {n_chars}, 6)"),
        "stopword_ratio": F.expr(f"round(CAST({n_stop} AS DOUBLE) / {n_tokens}, 6)"),
        "quality_score": F.expr(
            f"round(0.5 * ({n_alpha} / {n_chars}) "
            f"+ 0.3 * (1.0 - {n_digit} / {n_chars}) "
            f"+ 0.2 * least(CAST({n_stop} AS DOUBLE) / {n_tokens} * 5.0, 1.0), 6)"
        ),
    }


# Tiny per-language stopword profiles for the n-gram/stopword language
# heuristic. Deterministic function of the text (ties broken by the
# fixed language order below).
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "das"],
    "es": ["el", "la", "que", "de", "es"],
    "fr": ["le", "la", "et", "est", "les"],
}


def lang_guess_expr(text_col: str) -> str:
    """Stopword-profile language guess with the words array bound ONCE
    (the shingles_once lambda trick): the naive form inlined the full
    normalize+split pipeline into every stopword-count reference —
    ~2 regex passes per language per row — where this evaluates the
    split exactly once per row, counts each profile once into a bound
    array ``c``, and picks the argmax with array_max. Value-identical
    to the naive inlining by construction (same counts, same
    first-match tie order, same 'und' floors) — pinned in pytest
    against the un-bound reference formula."""
    def count_body(words: list[str]) -> str:
        lit = ", ".join(f"'{_sql_quote(s)}'" for s in words)
        return (f"CAST(size(filter(w, "
                f"x -> array_contains(array({lit}), x))) AS BIGINT)")

    counts = ", ".join(count_body(ws) for ws in LANG_PROFILES.values())
    whens = " ".join(
        f"WHEN element_at(c, {i + 1}) = array_max(c) THEN '{lang}'"
        for i, lang in enumerate(LANG_PROFILES))
    case = f"CASE WHEN array_max(c) = 0 THEN 'und' {whens} ELSE 'und' END"
    bound_counts = (f"element_at(transform(array(array({counts})), "
                    f"c -> {case}), 1)")
    return (f"element_at(transform(array({words_expr(text_col)}), "
            f"w -> {bound_counts}), 1)")


def char_entropy_expr(text_col: str) -> str:
    """Shannon entropy (nats, 6-dp) of the character distribution — the
    CCNet-style cheap quality proxy (gibberish/binary-ish text scores
    far from natural-language entropy). One per-row sort + run-length
    fold accumulating sum(c*ln(c)) over character runs; H = ln(n) -
    sum/n. Zero shuffle, O(L log L) per row."""
    chars = f"split({text_col}, '')"
    # NULL-safe prev comparison; runs close when the char changes, the
    # last run closes in the finish lambda.
    closed = "acc.acc + IF(acc.run > 0, acc.run * ln(acc.run), CAST(0.0 AS DOUBLE))"
    return (
        f"round(CASE WHEN size({chars}) > 0 THEN "
        f"ln(CAST(size({chars}) AS DOUBLE)) - "
        f"aggregate(array_sort({chars}), "
        f"named_struct('prev', CAST(NULL AS STRING), 'run', CAST(0 AS BIGINT), "
        f"'acc', CAST(0.0 AS DOUBLE)), "
        f"(acc, x) -> IF(acc.prev <=> x, "
        f"named_struct('prev', x, 'run', acc.run + CAST(1 AS BIGINT), 'acc', acc.acc), "
        f"named_struct('prev', x, 'run', CAST(1 AS BIGINT), 'acc', {closed})), "
        f"acc -> {closed}) / size({chars}) "
        f"ELSE CAST(0.0 AS DOUBLE) END, 6)"
    )


def _sql_quote(s: str) -> str:
    """Escape a token for embedding in a single-quoted SQL literal
    (both engines double the quote)."""
    return s.replace("'", "''")


def bpe_merge_expr(a: str, b: str) -> str:
    """Spark expression applying ONE BPE merge (a, b) -> ab to a
    ``toks`` array column: greedy left-to-right non-overlapping merge
    via an aggregate() fold carrying (accumulated list, pending
    token). Pure per-row array work — zero shuffle; the same greedy
    semantics the oracle expresses relationally (run-parity rule),
    equal because for a != b matches are never adjacent and for a == b
    greedy merges exactly the even offsets of each match run."""
    qa, qb = _sql_quote(a), _sql_quote(b)
    qm = _sql_quote(a + b)
    empty = "CAST(array() AS ARRAY<STRING>)"
    return (
        f"aggregate(toks, "
        f"named_struct('acc', {empty}, 'pend', CAST(NULL AS STRING)), "
        f"(s, t) -> CASE "
        f"WHEN s.pend IS NULL THEN named_struct('acc', s.acc, 'pend', t) "
        f"WHEN s.pend = '{qa}' AND t = '{qb}' THEN "
        f"named_struct('acc', concat(s.acc, array('{qm}')), "
        f"'pend', CAST(NULL AS STRING)) "
        f"ELSE named_struct('acc', concat(s.acc, array(s.pend)), "
        f"'pend', t) END, "
        f"s -> IF(s.pend IS NULL, s.acc, concat(s.acc, array(s.pend))))"
    )


def bpe_train(spark, docs, text_col: str, k: int = 5):
    """Train the first ``k`` BPE merge rules on the corpus; returns
    (rules DataFrame (merge_idx, left_tok, right_tok, merged,
    pair_count), post-merge vocab DataFrame (word, cnt, toks)).

    This is tokenizer training the way real BPE trainers run it: ONE
    corpus pass collapses the text to the word-frequency table (the
    only corpus-scale aggregation), then every iteration works on the
    vocab table — pair counting is a vocab-size explode + groupBy, the
    winning pair is a deterministic argmax (count DESC, pair ASC)
    collected driver-side (1 row — the train-out-of-plan pattern), and
    the merge applies as a per-row fold. At 100 TB only the first
    aggregation sees the corpus; k iterations touch O(|vocab|) rows.

    The DuckDB oracle (queries/round6.py) replays all k iterations as
    unrolled CTEs with the relational form of the same greedy merge,
    so the rules — counts, ties, everything — match exactly."""
    from pyspark.sql import functions as F

    from pyspark import StorageLevel

    # Persist the vocab table or the lazy lineage re-runs the corpus
    # aggregation on EVERY iteration's argmax collect — the "corpus is
    # seen once" claim depends on this line. ``base`` (the persisted
    # handle) is returned so callers can unpersist once their result
    # is materialized.
    base = (docs.select(F.explode(
                F.expr(fast_words_expr(text_col))).alias("word"))
            .groupBy("word").agg(F.count("*").alias("cnt"))
            .withColumn("toks", F.expr("regexp_extract_all(word, '.', 0)"))
            .persist(StorageLevel.MEMORY_AND_DISK))
    wc = base
    rules = []
    for i in range(k):
        pairs = wc.selectExpr(
            "cnt",
            "explode(CASE WHEN size(toks) >= 2 THEN "
            "transform(sequence(1, size(toks) - 1), "
            "j -> named_struct('a', element_at(toks, j), "
            "'b', element_at(toks, j + 1))) "
            "ELSE CAST(array() AS ARRAY<STRUCT<a: STRING, b: STRING>>) "
            "END) AS p")
        top = (pairs.groupBy("p.a", "p.b")
               .agg(F.sum("cnt").cast("bigint").alias("n"))
               .orderBy(F.col("n").desc(), "a", "b")
               .limit(1).collect())
        if not top:
            break
        a, b, n = top[0]["a"], top[0]["b"], int(top[0]["n"])
        rules.append((i + 1, a, b, a + b, n))
        wc = wc.withColumn("toks", F.expr(bpe_merge_expr(a, b)))
    rules_df = spark.createDataFrame(
        rules, "merge_idx long, left_tok string, right_tok string, "
               "merged string, pair_count long")
    return rules_df, wc, base


def bpe_merge_rules(spark, docs, text_col: str, k: int = 5):
    rules_df, _, base = bpe_train(spark, docs, text_col, k)
    # the rules are already local (driver-side argmax collects);
    # release the train cache so repeated catalog runs don't pile up
    # dead vocab blocks in executor storage
    base.unpersist()
    return rules_df


def bpe_encode_stats(spark, docs, text_col: str, k: int = 5):
    """Train ``k`` merges (bpe_train) and ENCODE the corpus with them,
    reporting the corpus-level tokenization profile: distinct vocab
    size, total word instances, character tokens before any merge,
    tokens after the k merges, and the compression ratio in ppm —
    the number a tokenizer-budget decision is made on.

    Encoding costs nothing beyond training here because the merged
    ``toks`` already live on the vocab table: corpus token counts are
    Σ cnt·len(toks) over O(|vocab|) rows. At 100 TB, encoding *new*
    text with frozen rules is the same per-row fold the train loop
    applies (bpe_merge_expr chained per rule) — embarrassingly
    parallel, zero shuffle, rules entering the plan as expression
    constants (train-out-of-plan)."""
    from pyspark.sql import functions as F

    _, wc, base = bpe_train(spark, docs, text_col, k)
    # Materialize the 1-row profile BEFORE releasing the train cache
    # (a lazy result would recompute the corpus pass after unpersist),
    # then hand it back as a local DataFrame — the same eager
    # train-out-of-plan contract as the rules themselves.
    rows = wc.agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_distinct_words"),
        F.expr("CAST(SUM(cnt) AS BIGINT)").alias("n_words"),
        F.expr("CAST(SUM(cnt * length(word)) AS BIGINT)").alias("n_chars"),
        F.expr("CAST(SUM(cnt * size(toks)) AS BIGINT)").alias("n_tokens"),
        F.expr("CAST(floor(SUM(cnt * size(toks)) * 1e6"
               " / SUM(cnt * length(word)) + 0.5) AS BIGINT)")
        .alias("compression_ppm")).collect()
    base.unpersist()
    return spark.createDataFrame(
        rows, "n_distinct_words long, n_words long, n_chars long, "
              "n_tokens long, compression_ppm long")

"""Seeded input generators for the four benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same seed writes byte-identical tables. The program under test only
ever sees the files written here (and, for ``migrate``, the Derby
database loaded from them).

- TPC-H-shaped tables (``tpch_tables``): region, nation, customer,
  supplier, part, orders, lineitem plus the ``events`` table, with the
  column names, types and value domains of the repository's testdata,
  so every catalog query and its DuckDB oracle run unchanged on them.
- ``corpus``: lowercase ASCII documents with planted exact duplicates
  and near-duplicates whose word-3-shingle Jaccard to their source is
  computed here, in plain Python, and recorded.
- ``cdc_changes``: CDC change files with Zipf-skewed keys and ~2 %
  tombstone noise, one parquet file per micro-batch, with increasing
  modification times so a file stream source reads them in order.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "hot", "cold", "big", "green", "old"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "cog"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

DAY_US = 86_400_000_000


def _epoch_us(year: int, month: int, day: int) -> int:
    delta = dt.datetime(year, month, day) - dt.datetime(1970, 1, 1)
    return delta.days * DAY_US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(
        pa.timestamp("us"))


def _write(table: pa.Table, path: str, row_group_rows: int) -> None:
    pq.write_table(table, path, row_group_size=row_group_rows)


def _labels(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys.tolist()]


def tpch_tables(out_dir: str, seed: int, n_customers: int,
                orders_per_customer: int = 10, n_events: int = 0,
                row_group_rows: int = 32_768) -> dict[str, str]:
    """TPC-H-shaped tables as one parquet file per table, split into
    row groups of ``row_group_rows`` rows. Returns {table: path}."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_supp = max(10, n_customers // 15)
    n_part = max(20, n_customers * 4 // 3)
    n_orders = n_customers * orders_per_customer
    paths: dict[str, str] = {}

    def put(name: str, table: pa.Table) -> None:
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        _write(table, paths[name], row_group_rows)

    put("region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS}))
    put("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))

    ckeys = np.arange(n_customers, dtype=np.int64)
    put("customer", pa.table({
        "c_custkey": ckeys,
        "c_name": _labels("Customer", ckeys),
        "c_nationkey": rng.integers(0, 25, n_customers).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_customers), 2),
        "c_mktsegment": np.array(SEGMENTS)[
            rng.integers(0, 5, n_customers)].tolist()}))

    skeys = np.arange(n_supp, dtype=np.int64)
    put("supplier", pa.table({
        "s_suppkey": skeys,
        "s_name": _labels("Supplier", skeys),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}))

    pkeys = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {n}" for a in PART_ADJ for n in PART_NOUN]
    put("part", pa.table({
        "p_partkey": pkeys,
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)].tolist(),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)].tolist(),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900.0, 999.9, n_part), 1)}))

    okeys = np.arange(n_orders, dtype=np.int64)
    day0 = _epoch_us(1995, 1, 1)
    n_days = (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days
    odate = day0 + rng.integers(0, n_days + 1, n_orders) * DAY_US
    put("orders", pa.table({
        "o_orderkey": okeys,
        "o_custkey": rng.integers(0, n_customers, n_orders).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[
            rng.integers(0, 3, n_orders)].tolist(),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(PRIORITIES)[
            rng.integers(0, 5, n_orders)].tolist()}))

    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    l_order = np.repeat(okeys, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_lineno = (np.arange(n_li) - starts + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    l_part = rng.integers(0, n_part, n_li).astype(np.int64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)
    put("lineitem", pa.table({
        "l_orderkey": l_order,
        "l_partkey": l_part,
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": l_lineno,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[
            rng.integers(0, 3, n_li)].tolist(),
        "l_linestatus": np.array(["F", "O"])[
            rng.integers(0, 2, n_li)].tolist(),
        "l_shipdate": _ts(np.repeat(odate, lines)
                          + rng.integers(1, 122, n_li) * DAY_US)}))

    if n_events:
        n_users = max(10, n_events // 60)
        ev_ts = _epoch_us(2024, 1, 1) + rng.integers(
            0, 30 * DAY_US, n_events)
        put("events", pa.table({
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": _ts(ev_ts),
            "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[
                rng.integers(0, 5, n_events)].tolist(),
            "value": np.round(rng.uniform(0.01, 500.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in
                      rng.integers(0, 100, n_events).tolist()]}))
    return paths


# -- curation corpus ------------------------------------------------------

def shingles(text: str, n: int = 3) -> set[str]:
    """Word n-gram set of a single-spaced lowercase document — the
    plain-Python reference the curate checker also uses."""
    words = text.split(" ")
    return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}


def jaccard(a: set[str], b: set[str]) -> float:
    return len(a & b) / len(a | b) if a or b else 1.0


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < size:
        k = int(rng.integers(3, 9))
        words.add("".join(letters[rng.integers(0, 26, k)]))
    return sorted(words)


# edit fractions for planted near-duplicates: replacing a share f of a
# document's words lowers its 3-shingle Jaccard to roughly
# (1-f)^3 / (2 - (1-f)^3), from ~0.9 down to ~0.25, so some planted
# pairs fall below any usual threshold and become candidates that
# verification must reject; the achieved value is measured, not assumed
NEAR_EDIT_FRACTIONS = (0.02, 0.05, 0.08, 0.12, 0.18, 0.25)


def corpus(seed: int, n_base: int, n_exact: int, n_near: int,
           words_per_doc: tuple[int, int] = (40, 80),
           vocab_size: int = 4000) -> dict:
    """Documents with planted duplicates.

    Returns ``{"docs": [(doc_id, text)], "exact": [(src_id, copy_id)],
    "near": [(src_id, variant_id, jaccard)]}``. Ids are a seeded
    permutation, so neither copies nor variants sort after their
    source. Text is lowercase ASCII words joined by single spaces:
    the program's normalization leaves it unchanged."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocabulary(rng, vocab_size)
    # Zipf-like word frequencies: common words give documents shared
    # shingles, so candidate verification does real work
    weights = 1.0 / np.arange(1, vocab_size + 1) ** 0.9
    weights /= weights.sum()
    lengths = rng.integers(words_per_doc[0], words_per_doc[1] + 1, n_base)
    drawn = np.array(vocab)[
        rng.choice(vocab_size, int(lengths.sum()), p=weights)].tolist()
    ends = np.cumsum(lengths).tolist()
    texts = [" ".join(drawn[e - k:e]) for e, k in zip(ends, lengths.tolist())]
    sources = rng.choice(n_base, n_exact + n_near, replace=False)
    exact_src = sources[:n_exact].tolist()
    near_src = sources[n_exact:].tolist()
    exact, near = [], []
    for src in exact_src:
        texts.append(texts[src])
        exact.append((src, len(texts) - 1))
    for i, src in enumerate(near_src):
        words = texts[src].split(" ")
        frac = NEAR_EDIT_FRACTIONS[i % len(NEAR_EDIT_FRACTIONS)]
        n_edit = max(1, round(frac * len(words)))
        for pos in rng.choice(len(words), n_edit, replace=False).tolist():
            words[pos] = vocab[int(rng.integers(0, vocab_size))]
        texts.append(" ".join(words))
        near.append((src, len(texts) - 1,
                     jaccard(shingles(texts[src]), shingles(texts[-1]))))
    ids = rng.permutation(len(texts)).astype(np.int64)
    return {
        "docs": [(int(ids[i]), t) for i, t in enumerate(texts)],
        "exact": [(int(ids[a]), int(ids[b])) for a, b in exact],
        "near": [(int(ids[a]), int(ids[b]), j) for a, b, j in near],
    }


def write_corpus_parquet(docs: list[tuple[int, str]], path: str,
                         row_group_rows: int = 100_000) -> None:
    _write(pa.table({"doc_id": pa.array([d for d, _ in docs], pa.int64()),
                     "text": [t for _, t in docs]}), path, row_group_rows)


def write_corpus_jsonl(docs: list[tuple[int, str]], path: str) -> None:
    with open(path, "w") as f:
        for doc_id, text in docs:
            f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")


# -- CDC change files -----------------------------------------------------

CDC_SCHEMA = ("cust_id BIGINT, name STRING, balance DOUBLE, "
              "change_ts TIMESTAMP, change_seq BIGINT, deleted BOOLEAN")


def cdc_changes(out_dir: str, seed: int, n_files: int, rows_per_file: int,
                n_keys: int, zipf_a: float = 1.2,
                tombstone_share: float = 0.02) -> list[str]:
    """``n_files`` change files in commit order. Keys follow a Zipf law
    over ``n_keys`` ids (rank permuted, so hot keys spread over the
    hash buckets); ``change_seq`` is a global counter and ``change_ts``
    strictly increases with it, so the last change per key is
    unambiguous. About ``tombstone_share`` of rows are tombstones
    (``deleted = true``)."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    ranks = rng.permutation(n_keys).astype(np.int64)
    base_ts = _epoch_us(2024, 1, 1)
    paths = []
    seq = 0
    mtime = 1_700_000_000
    for f in range(n_files):
        raw = rng.zipf(zipf_a, rows_per_file * 2)
        raw = raw[raw <= n_keys][:rows_per_file]
        while len(raw) < rows_per_file:
            extra = rng.zipf(zipf_a, rows_per_file)
            raw = np.concatenate([raw, extra[extra <= n_keys]])[:rows_per_file]
        keys = ranks[raw - 1]
        seqs = np.arange(seq, seq + rows_per_file, dtype=np.int64)
        seq += rows_per_file
        table = pa.table({
            "cust_id": keys,
            "name": [f"cust-{k}-{s % 97}" for k, s in
                     zip(keys.tolist(), seqs.tolist())],
            "balance": np.round(rng.uniform(-500.0, 50_000.0,
                                            rows_per_file), 2),
            # UTC-adjusted, so it reads as the spec's TIMESTAMP column
            "change_ts": pa.array(base_ts + seqs * 1_000_000).cast(
                pa.timestamp("us", tz="UTC")),
            "change_seq": seqs,
            "deleted": rng.random(rows_per_file) < tombstone_share,
        })
        path = os.path.join(out_dir, f"changes-{f:05d}.parquet")
        pq.write_table(table, path)
        os.utime(path, (mtime + f, mtime + f))
        paths.append(path)
    return paths

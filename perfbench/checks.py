"""Output checks that do not use the program under test.

Each check recomputes the expected result with DuckDB, pandas or plain
Python from the generated inputs (or states a property the output must
have) and returns a list of problems; an empty list means the output
is correct. ``perfbench/test_checks.py`` feeds each check corrupted
outputs and confirms it reports them.
"""

from __future__ import annotations

import datetime as dt
import glob
import math
import os
from collections import Counter, defaultdict

from gen import jaccard, shingles

# -- shared row comparison ------------------------------------------------

FLOAT_DIGITS = 6


def _cell(v):
    if v is None:
        return (True, "")
    if isinstance(v, float):
        if math.isnan(v):
            return (False, "NaN")
        return (False, round(v, FLOAT_DIGITS) + 0.0)
    if isinstance(v, dt.datetime):
        return (False, v.replace(tzinfo=None).isoformat())
    if isinstance(v, dt.date):
        return (False, v.isoformat())
    if hasattr(v, "item"):  # numpy scalar
        return _cell(v.item())
    return (False, v)


def normalize(columns: list[str], rows) -> Counter:
    """Order-insensitive multiset of rows, columns sorted by name, floats
    rounded to FLOAT_DIGITS decimals."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return Counter(tuple(_cell(r[i]) for i in order) for r in rows)


def _close(a: tuple, b: tuple) -> bool:
    for (na, va), (nb, vb) in zip(a, b):
        if na != nb:
            return False
        if isinstance(va, float) and isinstance(vb, float):
            if not math.isclose(va, vb, rel_tol=1e-9, abs_tol=1e-6):
                return False
        elif va != vb:
            return False
    return True


def compare_rows(label: str, exp_cols, exp_rows, got_cols, got_rows) -> list[str]:
    """Multiset equality of two row sets. Floats that differ only in
    the last digits (the two engines may round a sum differently at
    the 6th decimal) are accepted after the exact pass fails."""
    if sorted(exp_cols) != sorted(got_cols):
        return [f"{label}: columns {sorted(got_cols)} != {sorted(exp_cols)}"]
    exp, got = normalize(exp_cols, exp_rows), normalize(got_cols, got_rows)
    if exp == got:
        return []
    missing, extra = exp - got, got - exp
    if sum(missing.values()) == sum(extra.values()):
        a = sorted(missing.elements(), key=repr)
        b = sorted(extra.elements(), key=repr)
        if all(_close(x, y) for x, y in zip(a, b)):
            return []
    return [f"{label}: {sum(missing.values())} expected rows missing, "
            f"{sum(extra.values())} unexpected rows "
            f"(e.g. missing {list(missing)[:1]}, extra {list(extra)[:1]})"]


def read_parquet_dir(path: str):
    """(columns, rows) of every data file directly under ``path``,
    read with DuckDB (no Spark)."""
    import duckdb

    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return [], []
    con = duckdb.connect()
    rel = con.read_parquet(files)
    return rel.columns, rel.fetchall()


def duckdb_rows(table_paths: dict[str, str], sql: str):
    """(columns, rows) of ``sql`` run by DuckDB with one view per
    parquet file in ``table_paths``: the migrate job's filters, join and
    projection over the source parquet the Derby tables were loaded
    from, and every analytics query's ``ORACLES`` SQL."""
    import duckdb

    con = duckdb.connect()
    for name, path in table_paths.items():
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    rel = con.sql(sql)
    return rel.columns, rel.fetchall()


# -- curate ---------------------------------------------------------------

def lsh_detection_probability(j: float, bands: int, rows: int) -> float:
    """Probability that MinHash-LSH with ``bands`` bands of ``rows``
    rows makes a pair of Jaccard ``j`` a candidate: 1 - (1 - j^r)^b."""
    return 1.0 - (1.0 - j ** rows) ** bands


def check_curate(docs: list[tuple[int, str]], kept_ids: list[int],
                 near_pairs: list[tuple[int, int, float]],
                 threshold: float, bands: int, rows: int,
                 sigmas: float = 4.0) -> list[str]:
    """Properties of a dedup_exact -> dedup_near output.

    1. kept ids are unique and a subset of the input;
    2. each exact-duplicate group keeps exactly one document (none only
       if its text is a near-duplicate of another input text);
    3. every dropped document has word-3-shingle Jaccard >= threshold
       with some other input document (identical text counts as 1.0);
    4. planted near-duplicate pairs at or above the threshold lose a
       member at no less than the rate the LSH s-curve predicts, minus
       a margin of ``sigmas`` standard deviations of that rate (each
       pair is a Bernoulli trial with the s-curve probability; the
       program's fixed hash family lands within about 3 of them of the
       prediction on every seed tried)."""
    problems: list[str] = []
    text_of = dict(docs)
    kept = set(kept_ids)
    if len(kept) != len(kept_ids):
        problems.append(f"curate: {len(kept_ids) - len(kept)} duplicate kept ids")
    unknown = kept - text_of.keys()
    if unknown:
        problems.append(f"curate: {len(unknown)} kept ids not in the input")

    sh = {d: shingles(t) for d, t in docs}
    index: dict[str, list[int]] = defaultdict(list)
    for d, s in sh.items():
        for g in s:
            index[g].append(d)

    def has_near_neighbour(d: int, exclude_text: bool) -> bool:
        cands = {o for g in sh[d] for o in index[g]} - {d}
        return any(
            (not exclude_text or text_of[o] != text_of[d])
            and jaccard(sh[d], sh[o]) >= threshold for o in cands)

    groups: dict[str, list[int]] = defaultdict(list)
    for d, t in docs:
        groups[t].append(d)
    for text, members in groups.items():
        if len(members) < 2:
            continue
        n_kept = sum(1 for m in members if m in kept)
        if n_kept > 1 or (n_kept == 0 and not has_near_neighbour(
                members[0], exclude_text=True)):
            problems.append(
                f"curate: exact-duplicate group {sorted(members)} keeps "
                f"{n_kept} documents")
    dropped = [d for d, _ in docs if d not in kept]
    unjustified = [d for d in dropped
                   if len(groups[text_of[d]]) < 2
                   and not has_near_neighbour(d, exclude_text=False)]
    if unjustified:
        problems.append(
            f"curate: {len(unjustified)} dropped documents have no other "
            f"document at Jaccard >= {threshold} (e.g. {unjustified[:3]})")

    eligible = [(a, b, j) for a, b, j in near_pairs if j >= threshold]
    if eligible:
        removed = sum(1 for a, b, _ in eligible
                      if not (a in kept and b in kept))
        rate = removed / len(eligible)
        probs = [lsh_detection_probability(j, bands, rows)
                 for _, _, j in eligible]
        predicted = sum(probs) / len(probs)
        margin = sigmas * math.sqrt(sum(p * (1 - p) for p in probs)) / len(probs)
        if rate < predicted - margin:
            problems.append(
                f"curate: planted near-duplicates removed at {rate:.3f}, "
                f"below the predicted {predicted:.3f} - {margin:.3f}")
    return problems


# -- cdc_stream -----------------------------------------------------------

CDC_COLUMNS = ["cust_id", "name", "balance", "change_ts", "change_seq"]


def cdc_expected(change_files: list[str]):
    """Last non-tombstone change per key, ordered by (change_ts,
    change_seq), computed in pandas over the change files."""
    import pandas as pd

    df = pd.concat([pd.read_parquet(f) for f in change_files],
                   ignore_index=True)
    live = df[~df["deleted"]].sort_values(["change_ts", "change_seq"])
    return live.groupby("cust_id", sort=False).tail(1)[CDC_COLUMNS]


def check_cdc(expected, snapshot) -> list[str]:
    """``expected`` and ``snapshot`` are pandas frames with CDC_COLUMNS."""
    def rows(df):
        out = df[CDC_COLUMNS].copy()
        out["change_ts"] = [
            t.tz_convert("UTC").tz_localize(None) if t.tzinfo else t
            for t in out["change_ts"]]
        return list(out.itertuples(index=False, name=None))

    return compare_rows("cdc snapshot", CDC_COLUMNS, rows(expected),
                        CDC_COLUMNS, rows(snapshot))

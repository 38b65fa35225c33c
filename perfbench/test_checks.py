"""Tests for the output checkers: each one passes the correct output
and fails a corrupted one. No Spark; run with

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402
from wl_migrate import ORACLE_SQL  # noqa: E402

BANDS, ROWS, THRESHOLD = 6, 2, 0.5


# -- migrate --------------------------------------------------------------

def check_migrate(expected, cols, rows):
    return checks.compare_rows("migrate sink", *expected, cols, rows)


@pytest.fixture(scope="module")
def migrate_expected(tmp_path_factory):
    src = gen.tpch_tables(str(tmp_path_factory.mktemp("src")), seed=7,
                          n_customers=60)
    tables = {t: src[t] for t in ("customer", "orders", "lineitem")}
    return checks.duckdb_rows(tables, ORACLE_SQL)


def test_migrate_accepts_exact_output(migrate_expected):
    cols, rows = migrate_expected
    assert rows
    shuffled = list(reversed(rows))
    assert check_migrate(migrate_expected, cols, shuffled) == []


def test_migrate_rejects_dropped_row(migrate_expected):
    cols, rows = migrate_expected
    assert check_migrate(migrate_expected, cols, rows[1:])


def test_migrate_rejects_row_duplicated_by_resume(migrate_expected):
    cols, rows = migrate_expected
    assert check_migrate(migrate_expected, cols, rows + rows[:1])


def test_migrate_rejects_changed_value(migrate_expected):
    cols, rows = migrate_expected
    i = cols.index("revenue")
    bad = [tuple(v + 0.01 if k == i else v for k, v in enumerate(rows[0]))]
    assert check_migrate(migrate_expected, cols, bad + rows[1:])


# -- curate ---------------------------------------------------------------

@pytest.fixture(scope="module")
def corpus():
    return gen.corpus(seed=3, n_base=300, n_exact=20, n_near=60)


def reference_dedup(corpus):
    """A correct keep-set: one document per exact-duplicate group, and
    the larger id of every planted pair at or above the threshold."""
    kept = {}
    for doc_id, text in corpus["docs"]:
        kept.setdefault(text, doc_id)
        kept[text] = min(kept[text], doc_id)
    ids = set(kept.values())
    for a, b, j in corpus["near"]:
        if j >= THRESHOLD:
            ids.discard(max(a, b))
    return sorted(ids)


def curate_problems(corpus, kept):
    return checks.check_curate(corpus["docs"], kept, corpus["near"],
                               THRESHOLD, BANDS, ROWS)


def test_curate_accepts_correct_output(corpus):
    assert curate_problems(corpus, reference_dedup(corpus)) == []


def test_curate_rejects_kept_near_duplicates(corpus):
    kept = set(reference_dedup(corpus))
    for a, b, j in corpus["near"]:
        if j >= THRESHOLD:
            kept.update((a, b))
    assert any("near-duplicates removed" in p
               for p in curate_problems(corpus, sorted(kept)))


def test_curate_rejects_two_kept_exact_copies(corpus):
    kept = set(reference_dedup(corpus))
    src, copy = corpus["exact"][0]
    kept.update((src, copy))
    assert any("exact-duplicate group" in p
               for p in curate_problems(corpus, sorted(kept)))


def test_curate_rejects_unjustified_drop(corpus):
    near_ids = {d for a, b, _ in corpus["near"] for d in (a, b)}
    exact_ids = {d for pair in corpus["exact"] for d in pair}
    kept = reference_dedup(corpus)
    loner = next(d for d in kept if d not in near_ids | exact_ids)
    kept.remove(loner)
    assert any("no other document" in p
               for p in curate_problems(corpus, kept))


def test_curate_rejects_duplicate_and_unknown_ids(corpus):
    kept = reference_dedup(corpus)
    problems = curate_problems(corpus, kept + kept[:1] + [10**9])
    assert any("duplicate kept ids" in p for p in problems)
    assert any("not in the input" in p for p in problems)


def test_lsh_probability_matches_s_curve():
    assert checks.lsh_detection_probability(0.8, 6, 2) == pytest.approx(
        0.9978, abs=1e-4)
    assert checks.lsh_detection_probability(0.5, 6, 2) == pytest.approx(
        0.8220, abs=1e-4)


# -- analytics ------------------------------------------------------------

def test_compare_rows_is_order_insensitive_and_tolerant():
    exp = [("a", 1.0000000001), ("b", 2.5)]
    got = [("b", 2.5), ("a", 1.0)]
    assert checks.compare_rows("q", ["k", "v"], exp, ["k", "v"], got) == []
    # columns are matched by name, not position
    swapped = [(2.5, "b"), (1.0, "a")]
    assert checks.compare_rows("q", ["k", "v"], exp, ["v", "k"], swapped) == []


def test_compare_rows_rejects_wrong_value_and_missing_row():
    exp = [("a", 1.0), ("b", 2.5)]
    assert checks.compare_rows("q", ["k", "v"], exp, ["k", "v"],
                               [("a", 1.0), ("b", 2.6)])
    assert checks.compare_rows("q", ["k", "v"], exp, ["k", "v"], exp[:1])
    assert checks.compare_rows("q", ["k", "v"], exp, ["k", "w"], exp)


def test_oracle_rows_runs_catalog_oracle(tmp_path):
    from oracle_cassandra_migrator_spark.queries import ORACLES

    paths = gen.tpch_tables(str(tmp_path), seed=5, n_customers=50,
                            n_events=500)
    cols, rows = checks.duckdb_rows(paths,
                                    ORACLES["skew_salted_revenue_by_status"])
    assert cols == ["order_status", "n_orders", "total_price"]
    assert sum(r[1] for r in rows) == 500


# -- cdc ------------------------------------------------------------------

@pytest.fixture(scope="module")
def cdc(tmp_path_factory):
    files = gen.cdc_changes(str(tmp_path_factory.mktemp("cdc")), seed=4,
                            n_files=3, rows_per_file=200, n_keys=50)
    return files, checks.cdc_expected(files)


def test_cdc_expected_is_last_live_change(cdc):
    files, expected = cdc
    raw = pd.concat([pd.read_parquet(f) for f in files])
    key = int(expected["cust_id"].iloc[0])
    live = raw[(raw["cust_id"] == key) & ~raw["deleted"]]
    assert expected.set_index("cust_id").loc[key, "change_seq"] == \
        live["change_seq"].max()
    assert expected["cust_id"].is_unique


def test_cdc_accepts_equal_snapshot(cdc):
    _, expected = cdc
    assert checks.check_cdc(expected, expected.sample(frac=1.0,
                                                      random_state=1)) == []


def test_cdc_rejects_stale_upsert_value(cdc):
    files, expected = cdc
    raw = pd.concat([pd.read_parquet(f) for f in files])
    live = raw[~raw["deleted"]].sort_values("change_seq")
    stale_key = next(k for k, g in live.groupby("cust_id") if len(g) > 1)
    older = live[live["cust_id"] == stale_key].iloc[-2]
    snap = expected.copy()
    row = snap.index[snap["cust_id"] == stale_key][0]
    for col in checks.CDC_COLUMNS:
        snap.at[row, col] = older[col]
    assert checks.check_cdc(expected, snap)


def test_cdc_rejects_missing_key(cdc):
    _, expected = cdc
    assert checks.check_cdc(expected, expected.iloc[1:])

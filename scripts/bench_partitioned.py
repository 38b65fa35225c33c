#!/usr/bin/env python
"""Measure the partitioned-snapshot payoff: apply a small CDC batch
to a large keyed snapshot via (a) the full-rewrite upsert and (b) the
manifest-partitioned partial rewrite. The seed batch is drained
UNTIMED; only the incremental batch's apply wall is measured.

Usage: python scripts/bench_partitioned.py [n_rows] [batch_rows] [n_buckets]
Prints one JSON line.
"""

import json
import shutil
import sys
import time

sys.path.insert(0, ".")

from oracle_cassandra_migrator_spark.session import build_session  # noqa: E402


def main():
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    batch_rows = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    n_buckets = int(sys.argv[3]) if len(sys.argv) > 3 else 16

    spark = build_session(app_name="bench-partitioned")
    spark.sparkContext.setLogLevel("ERROR")

    from oracle_cassandra_migrator_spark.streaming import (
        partitioned, upsert)

    base = "/tmp/ocm-bench-partitioned"
    shutil.rmtree(base, ignore_errors=True)

    # one seed file -> exactly one seed batch (32 files would drain
    # as 32 micro-batches and skew every per-version metric)
    big = spark.range(n_rows).selectExpr(
        "id AS k", "md5(CAST(id AS STRING)) AS v",
        "CAST(0 AS INT) AS seq").coalesce(4)
    batch = spark.range(batch_rows).selectExpr(
        f"id * ({n_rows} DIV {batch_rows}) AS k",
        "concat('updated-', id) AS v", "CAST(1 AS INT) AS seq")
    schema = big.schema

    def drain(kind, src, state_dir, ckpt):
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        if kind == "full":
            q = upsert.foreach_batch_upsert(
                stream, state_dir, ["k"], ["seq"], ckpt)
        else:
            q = partitioned.foreach_batch_upsert_partitioned(
                stream, state_dir, ["k"], ["seq"], ckpt,
                n_buckets=n_buckets)
        q.awaitTermination(600)

    out = {"n_rows": n_rows, "batch_rows": batch_rows,
           "n_buckets": n_buckets}
    for kind in ("full", "partial"):
        src = f"{base}/src_{kind}"
        state_dir, ckpt = f"{base}/{kind}", f"{base}/ck_{kind}"
        big.coalesce(1).write.mode("overwrite").parquet(src)
        drain(kind, src, state_dir, ckpt)          # seed, untimed
        batch.coalesce(1).write.mode("append").parquet(src)
        t0 = time.monotonic()
        drain(kind, src, state_dir, ckpt)          # incremental, timed
        out[f"{kind}_apply_sec"] = round(time.monotonic() - t0, 2)

    a = {r.k: r.v for r in upsert.latest_snapshot(
        spark, f"{base}/full").collect()}
    b = {r.k: r.v for r in partitioned.latest_partitioned_snapshot(
        spark, f"{base}/partial").collect()}
    assert a == b, "parity violated"
    out["speedup"] = round(out["full_apply_sec"]
                           / max(out["partial_apply_sec"], 1e-9), 2)

    # bytes REWRITTEN by the incremental apply — the metric that
    # becomes the wall at scale (local walls are overhead-dominated)
    import os

    def du(path):
        total = 0
        for root, _, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(root, f))
                         for f in files)
        return total

    from oracle_cassandra_migrator_spark.streaming.fingerprint import (
        committed_tokens)
    from oracle_cassandra_migrator_spark.reliability.state import (
        LocalFSStateStore)
    store = LocalFSStateStore()
    last_full = committed_tokens(store, f"{base}/full/markers")[-1]
    last_part = committed_tokens(store, f"{base}/partial/markers")[-1]
    out["full_apply_bytes"] = du(f"{base}/full/snapshot-v{last_full}")
    out["partial_apply_bytes"] = du(f"{base}/partial/v{last_part}")
    out["full_apply_rows"] = spark.read.parquet(
        f"{base}/full/snapshot-v{last_full}").count()
    out["partial_apply_rows"] = spark.read.parquet(
        f"{base}/partial/v{last_part}").count()
    out["write_amplification_rows"] = round(
        out["full_apply_rows"] / max(out["partial_apply_rows"], 1), 1)
    out["write_amplification_bytes"] = round(
        out["full_apply_bytes"] / max(out["partial_apply_bytes"], 1), 1)
    print(json.dumps(out))
    shutil.rmtree(base, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()

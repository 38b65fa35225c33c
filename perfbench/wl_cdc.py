"""CDC catch-up: drain seeded change files through the
``streaming_cdc_mirror`` spec shape (partitioned_upsert sink,
maxFilesPerTrigger 1, availableNow), one micro-batch per file. The
``migrate`` workload runs it after the bulk copy, mirroring the
customer table's changes into a keyed, bucketed snapshot."""

from __future__ import annotations

import glob
import json
import os
import statistics

import checks
import gen
import harness

ROWS_PER_FILE = 400
N_BUCKETS = 32


class CdcCatchUp:
    def __init__(self, work: str, seed: int, n_files: int, n_keys: int):
        base = os.path.join(work, "cdc")
        self.in_dir = os.path.join(base, "in")
        self.state = os.path.join(base, "state")
        self.ckpt = os.path.join(base, "ckpt")
        self.n_files = n_files
        self.files = gen.cdc_changes(self.in_dir, seed, n_files,
                                     ROWS_PER_FILE, n_keys)
        self.expected = checks.cdc_expected(self.files)

    def spec(self) -> dict:
        return {
            "source": {"format": "parquet", "path": self.in_dir,
                       "schema": gen.CDC_SCHEMA,
                       "options": {"maxFilesPerTrigger": "1"}},
            "transform": [
                {"op": "filter", "expr": "NOT deleted"},
                {"op": "select", "exprs": ["cust_id", "name", "balance",
                                           "change_ts", "change_seq"]}],
            "sink": {"type": "partitioned_upsert", "base_dir": self.state,
                     "keys": ["cust_id"],
                     "order_by": ["change_ts", "change_seq"],
                     "n_buckets": N_BUCKETS,
                     "checkpoint_dir": self.ckpt},
        }

    def reset(self) -> None:
        harness.reset_dirs(self.state, self.ckpt)

    def drain(self, spark, tracer):
        """Start the stream and wait until every file is applied."""
        from oracle_cassandra_migrator_spark.streaming.pipeline import (
            run_stream_pipeline)

        with tracer.span("streaming.drain", "streaming"):
            query = run_stream_pipeline(spark, self.spec())
            query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        return query

    def check(self, spark, query) -> list[str]:
        from oracle_cassandra_migrator_spark.streaming.partitioned import (
            latest_partitioned_snapshot)

        snap = latest_partitioned_snapshot(spark, self.state)
        problems = checks.check_cdc(self.expected, snap.toPandas())
        n = len(self._batches(query))
        if n != self.n_files:
            problems.append(f"cdc: {n} batches, expected {self.n_files}")
        return problems

    @staticmethod
    def _batches(query):
        return sorted((p for p in query.recentProgress if p.numInputRows > 0),
                      key=lambda p: p.batchId)

    def batch_p50_ms(self, query) -> float:
        """Median ``batchDuration``, skipping the first batch."""
        return statistics.median(
            float(p.batchDuration) for p in self._batches(query)[1:])

    def layer_metrics(self, query) -> dict:
        batches = self._batches(query)[1:]

        def p50(key: str) -> float:
            return statistics.median(
                float(b.durationMs.get(key, 0)) for b in batches)

        rewritten = []
        for path in glob.glob(os.path.join(self.state, "manifest-v*.json")):
            token = os.path.basename(path)[len("manifest-v"):-len(".json")]
            with open(path) as f:
                owners = json.load(f)["owners"]
            rewritten.append(sum(1 for t in owners.values() if t == token))
        return {
            "streaming.add_batch_ms_p50": p50("addBatch"),
            "streaming.planning_ms_p50": p50("queryPlanning"),
            "streaming.commit_ms_p50": p50("commitOffsets"),
            "streaming.buckets_rewritten": statistics.median(rewritten),
            "streaming.state_files": sum(
                len(fs) for _, _, fs in os.walk(self.state)),
            "streaming.state_mb": harness.dir_mb(self.state),
        }


def install_streaming_spans(tracer) -> None:
    from oracle_cassandra_migrator_spark.streaming import pipeline

    tracer.wrap(pipeline, "run_stream_pipeline",
                "streaming.run_stream_pipeline", "streaming")

"""curate: a synthetic corpus with planted exact and near duplicates
through a ``Pipeline`` of dedup_exact -> dedup_near (MinHash-LSH,
mode filter) -> expect -> parquet sink.

Each round also runs ``minhash_lsh_pairs`` on a small fixed corpus
(seed-independent) stored twice, as parquet and as JSONL. The JSONL
call fails today: the fan-out gate in ``operators/text.py``
``with_shingles`` opens every input file with pyarrow's parquet reader
(``ArrowInvalid: Parquet magic bytes not found``). It is counted as an
attempted and failed operation, timed outside ``job_s``; once it
passes, its pairs must equal those of the parquet copy."""

from __future__ import annotations

import os
import sys
import time

import checks
import gen
import harness
from spans import NullTracer

N_BASE, N_EXACT, N_NEAR = 800, 50, 150
PROBE_SEED, PROBE_DOCS = 0, 300
THRESHOLD = 0.5
N_FILES = 8


class Workload:
    name = "curate"

    def __init__(self, ctx):
        self.ctx = ctx
        base = os.path.join(ctx.work, "curate")
        self.base = base
        self.staging = os.path.join(base, "staging")
        self.sink = os.path.join(base, "sink")
        self.corpus_path = os.path.join(base, "corpus.parquet")
        self.probe_parquet = os.path.join(base, "probe.parquet")
        self.probe_jsonl = os.path.join(base, "probe.jsonl")

    def prepare(self) -> None:
        os.makedirs(self.base, exist_ok=True)
        self.corpus = gen.corpus(self.ctx.seed, N_BASE, N_EXACT, N_NEAR)
        gen.write_corpus_parquet(self.corpus["docs"], self.corpus_path)
        probe = gen.corpus(PROBE_SEED, PROBE_DOCS, 10, 40)["docs"]
        gen.write_corpus_parquet(probe, self.probe_parquet)
        gen.write_corpus_jsonl(probe, self.probe_jsonl)

    def spec(self) -> dict:
        return {
            "name": "curate", "staging_dir": self.staging,
            "sources": {"docs": {"format": "parquet",
                                 "path": self.corpus_path}},
            "transform": [
                {"op": "dedup_exact", "input": "docs", "text": "text",
                 "id": "doc_id"},
                {"op": "dedup_near", "text": "text", "id": "doc_id",
                 "threshold": THRESHOLD, "mode": "filter"},
                {"op": "expect", "checks": [
                    "count(*) > 0", "count(DISTINCT doc_id) = count(*)"]},
            ],
            "transform_partitions": N_FILES,
            "sink": {"format": "parquet", "path": self.sink},
            "retry": {"retries": 3, "delay": 0.0},
        }

    def install(self, tracer) -> None:
        from oracle_cassandra_migrator_spark.operators import dedup
        from wl_migrate import install_pipeline_spans

        install_pipeline_spans(tracer)
        tracer.wrap(dedup, "dedup_keep_representative",
                    "operators.exact_dedup", "operators")
        tracer.wrap(dedup, "connected_components",
                    "operators.connected_components", "operators")
        orig = dedup.minhash_lsh_pairs
        self.traced_pairs = []

        def minhash_lsh_pairs(*args, **kwargs):
            with tracer.span("operators.minhash_lsh_pairs", "operators"):
                pairs = orig(*args, **kwargs)
            self.traced_pairs.append(pairs)
            return pairs

        tracer.patch(dedup, "minhash_lsh_pairs", minhash_lsh_pairs)

    def round(self, tracer=NullTracer()) -> dict:
        from oracle_cassandra_migrator_spark.operators.dedup import (
            LSH_BANDS, LSH_ROWS)
        from oracle_cassandra_migrator_spark.pipeline import Pipeline

        spark = self.ctx.spark
        harness.reset_dirs(self.staging, self.sink)
        harness.isolate(spark)
        c0, t0 = harness.cpu_s(spark), time.perf_counter()
        with tracer.span("pipeline.job", "pipeline"):
            Pipeline(spark, self.spec()).run()
        job_s = time.perf_counter() - t0
        job_cpu_s = harness.cpu_s(spark) - c0
        cached = harness.cached_mb(spark)
        cols, rows = checks.read_parquet_dir(self.sink)
        kept = [r[cols.index("doc_id")] for r in rows] if rows else []
        problems = checks.check_curate(
            self.corpus["docs"], kept, self.corpus["near"], THRESHOLD,
            LSH_BANDS, LSH_ROWS)
        disk_mb = harness.dir_mb(self.staging, self.sink)
        attempted, failed, probe_problems = self._probe()
        problems += probe_problems
        return {
            "job_s": job_s, "job_cpu_s": job_cpu_s, "problems": problems,
            "ops": (1 + attempted, failed),
            "e2e_extra": {"disk_mb": disk_mb},
            "layer": {"operators.cached_mb": cached,
                      "operators.docs_kept": len(kept)},
        }

    def _probe(self):
        """minhash_lsh_pairs over the fixed probe corpus, parquet and
        JSONL copies. Returns (attempted, failed, problems)."""
        from oracle_cassandra_migrator_spark.operators.dedup import (
            minhash_lsh_pairs)

        spark = self.ctx.spark
        schema = "doc_id BIGINT, text STRING"
        harness.isolate(spark)
        try:
            got = [tuple(r) for r in minhash_lsh_pairs(
                spark.read.schema(schema).json(self.probe_jsonl), "text",
                "doc_id", threshold=THRESHOLD).collect()]
        except Exception as exc:  # noqa: BLE001 — the counted failure
            print(f"operation failed: minhash_lsh_pairs over JSONL: "
                  f"{type(exc).__name__}: {str(exc)[:200]}", file=sys.stderr)
            return 1, 1, []
        ref = [tuple(r) for r in minhash_lsh_pairs(
            spark.read.parquet(self.probe_parquet), "text", "doc_id",
            threshold=THRESHOLD).collect()]
        cols = ["doc_a", "doc_b", "jaccard"]
        return 1, 0, checks.compare_rows("jsonl pairs", cols, ref, cols, got)

    def layer_from_trace(self, tracer, jobs) -> dict:
        from wl_migrate import pipeline_layer_metrics

        out = pipeline_layer_metrics(tracer, jobs, self.ctx.cores, self.sink)
        out.update({
            "operators.exact_dedup_s": tracer.total_s("operators.exact_dedup"),
            "operators.minhash_pairs_s": tracer.total_s(
                "operators.minhash_lsh_pairs"),
            "operators.components_s": tracer.total_s(
                "operators.connected_components"),
        })
        if self.traced_pairs:
            verified, candidates = verification_counts(self.traced_pairs[0])
            out["operators.pairs_verified"] = verified
            out["operators.verified_per_candidate"] = (
                verified / candidates if candidates else 0.0)
        return out


def _children(node):
    name = node.nodeName()
    if name.startswith("AdaptiveSparkPlan"):
        return [node.executedPlan()]
    if "QueryStage" in name:
        return [node.plan()]
    kids, it = [], node.children().iterator()
    while it.hasNext():
        kids.append(it.next())
    return kids


def _output_rows(node) -> int:
    metric = node.metrics().get("numOutputRows")
    return metric.get().value() if metric.isDefined() else 0


def verification_counts(pairs_df) -> tuple[int, int]:
    """(pairs that passed verification, candidate pairs verified), read
    from the SQL metrics of the executed plan of the pair frame: the
    rows out of the Jaccard filter and out of the aggregate under it."""
    pairs_df.collect()
    stack = [pairs_df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        kids = _children(node)
        if (node.nodeName() == "Filter"
                and "n_common" in node.verboseStringWithOperatorId()):
            under = kids[0]
            while under.nodeName() != "HashAggregate" and _children(under):
                under = _children(under)[0]
            return _output_rows(node), _output_rows(under)
        stack.extend(kids)
    return 0, 0

"""migrate: the reference job shape, followed by a CDC catch-up.

Customer, orders and lineitem are loaded into embedded Derby; a
``Pipeline`` does range-partitioned, filtered JDBC reads, raw staging,
a 3-way join with a projection, transformed staging split into many
files, and the checkpointed, idempotent per-file parquet sink. The
customer changes recorded during the copy are then drained through
the ``streaming_cdc_mirror`` spec shape (see ``wl_cdc.py``); ``job_s``
covers both. In traced runs (where ``resume_s`` is reported) each round
then empties the sink and its markers, makes the sink write raise
halfway through phase 3 (by wrapping ``write_file_idempotent`` from
outside the package) and times and checks the rerun that resumes from
the markers."""

from __future__ import annotations

import glob
import os
import time

import checks
import gen
import harness
from spans import NullTracer
from wl_cdc import CdcCatchUp, install_streaming_spans

N_CUSTOMERS = 1000
ORDERS_PER_CUSTOMER = 10
N_FILES = 8
CDC_FILES = 2
DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"

# Spark's JDBC writer would create STRING columns as CLOB, and Derby
# rejects the pushed-down ``c_mktsegment IN (...)`` on a CLOB (42818)
VARCHAR_COLUMNS = {
    "customer": "c_name VARCHAR(32), c_mktsegment VARCHAR(16)",
    "orders": "o_orderstatus VARCHAR(1), o_orderpriority VARCHAR(16)",
    "lineitem": "l_returnflag VARCHAR(1), l_linestatus VARCHAR(1)",
}
FILTERS = {
    "customer": "c_mktsegment IN ('AUTOMOBILE', 'BUILDING', 'MACHINERY')",
    "orders": "o_totalprice > 50000",
    "lineitem": "l_quantity >= 5",
}
PROJECTION = [
    "c_custkey", "c_name", "c_mktsegment", "o_orderkey",
    "CAST(o_orderdate AS DATE) AS order_date", "o_totalprice",
    "l_linenumber", "l_quantity",
    "l_extendedprice * (1 - l_discount) AS revenue",
]
ORACLE_SQL = f"""
    SELECT {', '.join(PROJECTION)}
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE {FILTERS['customer']} AND {FILTERS['orders']}
      AND {FILTERS['lineitem']}
"""


class InjectedCrash(RuntimeError):
    pass


class Workload:
    name = "migrate"

    def __init__(self, ctx):
        self.ctx = ctx
        w = ctx.work
        self.staging = os.path.join(w, "migrate", "staging")
        self.sink = os.path.join(w, "migrate", "sink")
        self.url = f"jdbc:derby:{os.path.join(w, 'derby', 'db')}"

    def prepare(self) -> None:
        self.src = gen.tpch_tables(
            os.path.join(self.ctx.work, "src"), self.ctx.seed, N_CUSTOMERS,
            ORDERS_PER_CUSTOMER)
        spark = self.ctx.spark
        for table in ("customer", "orders", "lineitem"):
            (spark.read.parquet(self.src[table]).write.format("jdbc")
             .mode("overwrite")
             .option("url", self.url + ";create=true")
             .option("dbtable", table).option("driver", DERBY_DRIVER)
             .option("createTableColumnTypes", VARCHAR_COLUMNS[table])
             .option("batchsize", 5000).save())
        self.cdc = CdcCatchUp(self.ctx.work, self.ctx.seed, CDC_FILES,
                              N_CUSTOMERS)
        self.expected = checks.duckdb_rows(
            {t: self.src[t] for t in ("customer", "orders", "lineitem")},
            ORACLE_SQL)

    def spec(self) -> dict:
        n_orders = N_CUSTOMERS * ORDERS_PER_CUSTOMER

        def jdbc(table, column, upper, parts):
            return {"format": "jdbc",
                    "options": {"url": self.url, "dbtable": table,
                                "driver": DERBY_DRIVER},
                    "partitioning": {"column": column, "lower_bound": 0,
                                     "upper_bound": upper,
                                     "num_partitions": parts},
                    "fetch_size": 5000, "filter": FILTERS[table]}

        return {
            "name": "migrate", "staging_dir": self.staging,
            "sources": {
                "customer": jdbc("customer", "c_custkey", N_CUSTOMERS, 4),
                "orders": jdbc("orders", "o_orderkey", n_orders, 8),
                "lineitem": jdbc("lineitem", "l_orderkey", n_orders, 8),
            },
            "transform": [
                {"op": "join", "left": "lineitem", "right": "orders",
                 "on": "lineitem.l_orderkey = orders.o_orderkey",
                 "as": "lo"},
                {"op": "join", "left": "lo", "right": "customer",
                 "on": "o_custkey = c_custkey", "as": "loc"},
                {"op": "select", "exprs": PROJECTION},
            ],
            "transform_partitions": N_FILES,
            "sink": {"format": "parquet", "path": self.sink},
            "retry": {"retries": 3, "delay": 0.0},
        }

    def install(self, tracer) -> None:
        install_pipeline_spans(tracer)
        install_streaming_spans(tracer)

    def _check(self, label: str) -> list[str]:
        cols, rows = checks.read_parquet_dir(self.sink)
        return checks.compare_rows(f"migrate sink, {label}", *self.expected,
                                   cols, rows)

    def round(self, tracer=NullTracer()) -> dict:
        from oracle_cassandra_migrator_spark.pipeline import Pipeline

        spark = self.ctx.spark
        harness.reset_dirs(self.staging, self.sink)
        self.cdc.reset()
        harness.isolate(spark)
        c0, t0 = harness.cpu_s(spark), time.perf_counter()
        with tracer.span("pipeline.job", "pipeline"):
            Pipeline(spark, self.spec()).run()
        query = self.cdc.drain(spark, tracer)
        job_s = time.perf_counter() - t0
        job_cpu_s = harness.cpu_s(spark) - c0
        problems = self._check("first run") + self.cdc.check(spark, query)
        disk_mb = harness.dir_mb(self.staging, self.sink, self.cdc.state,
                                 self.cdc.ckpt)
        out = {
            "job_s": job_s, "job_cpu_s": job_cpu_s, "problems": problems,
            "ops": (2, 0),
            "run_ids": frozenset({str(query.runId)}),
            "e2e_extra": {"disk_mb": disk_mb,
                          "batch_p50_ms": self.cdc.batch_p50_ms(query)},
            "layer": {"sources.rows": _staged_rows(self.staging),
                      **self.cdc.layer_metrics(query)},
        }
        if self.ctx.trace:
            self._crash_and_resume(out, tracer)
        return out

    def _crash_and_resume(self, out: dict, tracer) -> None:
        """Crash halfway through phase 3, then time the resuming rerun."""
        from oracle_cassandra_migrator_spark.pipeline import Pipeline

        spark = self.ctx.spark
        problems = out["problems"]
        harness.reset_dirs(self.sink)
        for marker in glob.glob(os.path.join(self.staging, "**",
                                             "*.checkpoint"),
                                recursive=True):
            os.remove(marker)
        crashed = _crash_phase3_at(spark, self.spec(), N_FILES // 2)
        if not crashed:
            problems.append("injected phase-3 crash did not stop the run")
        harness.isolate(spark)
        t0 = time.perf_counter()
        with tracer.span("pipeline.resume", "pipeline"):
            resumed = Pipeline(spark, self.spec()).run()
        resume_s = time.perf_counter() - t0
        problems += self._check("after resume")
        if resumed.files_written != N_FILES - N_FILES // 2:
            problems.append(f"resume rewrote {resumed.files_written} files, "
                            f"expected {N_FILES - N_FILES // 2}")
        out["ops"] = (out["ops"][0] + 2, 0)
        out["e2e_extra"]["resume_s"] = resume_s
        out["layer"]["pipeline.files_skipped"] = resumed.files_skipped

    def layer_from_trace(self, tracer, jobs) -> dict:
        return pipeline_layer_metrics(tracer, jobs, self.ctx.cores,
                                      self.sink)


def _crash_phase3_at(spark, spec: dict, n_ok: int) -> bool:
    """Run the pipeline with a sink write that raises on every attempt
    once ``n_ok`` files are written. Returns whether the run stopped."""
    from oracle_cassandra_migrator_spark import pipeline
    from oracle_cassandra_migrator_spark.pipeline import Pipeline

    orig = pipeline.write_file_idempotent
    done: set[str] = set()

    def flaky(df, base, sink_spec):
        if len(done) >= n_ok and base not in done:
            raise InjectedCrash(f"injected crash writing {base}")
        orig(df, base, sink_spec)
        done.add(base)

    pipeline.write_file_idempotent = flaky
    try:
        Pipeline(spark, spec).run()
    except InjectedCrash:
        return True
    finally:
        pipeline.write_file_idempotent = orig
    return False


def _staged_rows(staging: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in glob.glob(
        os.path.join(staging, "migrate", "raw", "*", "*.parquet")))


def install_pipeline_spans(tracer) -> None:
    """Spans on the layers a ``Pipeline`` run goes through."""
    from oracle_cassandra_migrator_spark import pipeline
    from oracle_cassandra_migrator_spark.reliability import state

    P = pipeline.Pipeline
    tracer.wrap(P, "run", "pipeline.run", "pipeline")
    tracer.wrap(P, "stage_transformed", "pipeline.stage_transformed",
                "pipeline")
    tracer.wrap(P, "write_sink_checkpointed", "pipeline.phase3",
                "pipeline")
    tracer.wrap(P, "stage_sources", "sources.stage_sources", "sources")
    tracer.wrap(P, "_write_one_file", "reliability.attempt", "sinks",
                group=False)
    tracer.wrap(pipeline, "read_source", "sources.read_source", "sources",
                group=False)
    tracer.wrap(pipeline, "compile_transform", "plans.compile_transform",
                "plans")
    tracer.wrap(pipeline, "write_file_idempotent",
                "sinks.write_file_idempotent", "sinks")
    orig_write = pipeline.write_sink

    def write_sink(df, spec):
        # phase 1 stages raw sources; phase 2 writes the transform
        raw = os.sep + "raw" + os.sep in spec["path"]
        name, layer = (("sources.stage_write", "sources") if raw
                       else ("plans.transform_write", "plans"))
        with tracer.span(name, layer):
            return orig_write(df, spec)

    tracer.patch(pipeline, "write_sink", write_sink)
    tracer.wrap(state.LocalFSStateStore, "exists", "reliability.exists",
                "reliability", group=False)
    tracer.wrap(state.LocalFSStateStore, "put_marker",
                "reliability.put_marker", "reliability", group=False)
    tracer.wrap(pipeline, "ProgressReporter", "reliability.progress",
                "reliability", group=False)


def pipeline_layer_metrics(tracer, jobs, cores: int, sink: str) -> dict:
    """Per-layer metrics of one traced round of ``Pipeline`` runs."""
    import spans as sp

    files = tracer.count("sinks.write_file_idempotent")
    write_s = tracer.total_s("sinks.write_file_idempotent")
    phase3 = tracer.named("pipeline.phase3")
    phase3_s = sum(s["end"] - s["start"] for s in phase3)
    phase3_busy = sum(sp.busy_within(jobs, s["start"], s["end"])
                      for s in phase3)
    runs = tracer.named("pipeline.run")
    wall = sum(s["end"] - s["start"] for s in runs)
    run_ms = sum(j.get("run_ms", 0) for j in jobs
                 if any(s["start"] <= (j["start"] or 0) <= s["end"]
                        for s in runs))
    stage_transformed = tracer.total_s("pipeline.stage_transformed")
    phase1 = tracer.total_s("sources.stage_sources")
    failed_attempts = tracer.count("reliability.attempt", errors_only=True)
    failed_runs = sum(1 for s in runs if s["error"])
    return {
        "sources.stage_s": phase1,
        "sources.tasks": sum(j.get("tasks", 0) for j in jobs
                             if j["layer"] == "sources"),
        "plans.compile_s": tracer.total_s("plans.compile_transform"),
        "plans.transform_write_s": tracer.total_s("plans.transform_write"),
        "sinks.write_s": write_s,
        "sinks.files": files,
        "sinks.ms_per_file": 1000.0 * write_s / files if files else 0.0,
        "sinks.output_mb": harness.dir_mb(sink),
        "reliability.marker_ops": (tracer.count("reliability.exists")
                                   + tracer.count("reliability.put_marker")),
        "reliability.marker_s": (tracer.total_s("reliability.exists")
                                 + tracer.total_s("reliability.put_marker")),
        "reliability.progress_s": tracer.total_s("reliability.progress"),
        "reliability.retries": failed_attempts - failed_runs,
        "pipeline.phase1_s": phase1,
        "pipeline.phase2_s": stage_transformed - phase1,
        "pipeline.phase3_s": phase3_s,
        "pipeline.phase3_idle_s": phase3_s - phase3_busy,
        "pipeline.core_busy": (run_ms / 1000.0) / (wall * cores)
        if wall else 0.0,
    }

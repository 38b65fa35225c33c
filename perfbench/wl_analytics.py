"""analytics: a read-only mix of catalog queries run in order, each
forced with the no-op sink, over seeded TPC-H-shaped tables written as
one parquet file per table with many row groups. Each run checks every
query against its ``ORACLES`` SQL run by DuckDB over the same files."""

from __future__ import annotations

import os
import time

import checks
import gen
import harness
from spans import NullTracer

QUERY_MIX = [
    "tpch_q8_market_share",
    "tpch_q21_waiting_suppliers",
    "pricing_summary",
    "topk_order_revenue",
    "rollup_acctbal_region_nation",
    "window_rank_top_orders",
    "events_sessionize",
    "asof_join_purchase_click",
    "skew_salted_revenue_by_status",
]
N_CUSTOMERS = 3000        # 30 000 orders, ~120 000 lineitem rows
N_EVENTS = 30_000
ROW_GROUP_ROWS = 8192


class Workload:
    name = "analytics"

    def __init__(self, ctx):
        self.ctx = ctx
        self.tables_dir = os.path.join(ctx.work, "tables")
        self.checked = False

    def prepare(self) -> None:
        self.paths = gen.tpch_tables(self.tables_dir, self.ctx.seed,
                                     N_CUSTOMERS, 10, N_EVENTS,
                                     ROW_GROUP_ROWS)

    def install(self, tracer) -> None:
        """The per-query spans are opened in ``round``."""

    def layer_from_trace(self, tracer, jobs) -> dict:
        return {}

    def round(self, tracer=NullTracer()) -> dict:
        from oracle_cassandra_migrator_spark.queries import QUERIES

        spark = self.ctx.spark
        harness.isolate(spark)
        per_query = {}
        c0, t0 = harness.cpu_s(spark), time.perf_counter()
        for name in QUERY_MIX:
            q0 = time.perf_counter()
            with tracer.span(f"queries.{name}", "queries"):
                (QUERIES[name](spark, self.tables_dir)
                 .write.format("noop").mode("overwrite").save())
            per_query[f"queries.{name}_s"] = time.perf_counter() - q0
        job_s = time.perf_counter() - t0
        job_cpu_s = harness.cpu_s(spark) - c0
        problems = [] if self.checked else self._check()
        self.checked = True
        return {"job_s": job_s, "job_cpu_s": job_cpu_s, "problems": problems,
                "ops": (len(QUERY_MIX), 0), "layer": per_query}

    def _check(self) -> list[str]:
        """Each query's rows against its DuckDB oracle, once per run
        (every round reads the same files)."""
        from oracle_cassandra_migrator_spark.queries import ORACLES, QUERIES

        problems = []
        for name in QUERY_MIX:
            df = QUERIES[name](self.ctx.spark, self.tables_dir)
            exp_cols, exp_rows = checks.duckdb_rows(self.paths, ORACLES[name])
            problems += checks.compare_rows(name, exp_cols, exp_rows,
                                            df.columns, df.collect())
        return problems

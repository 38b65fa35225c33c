"""The phased, restartable pipeline runner — the engine-level
generalization of the reference's ``migrate_table``
(verizon_table_migration_Rakesh_filters.py:376-421):

  Phase 1  stage every source to parquet (skipped per-source when the
           staged output already exists — gate B, py:392)
  Phase 2  run the transform over the *staged* copies and stage the
           result (the whole phase is skipped when transformed output
           exists — gate A, py:385-386)
  Phase 3  checkpointed per-file copy into the sink: each staged
           parquet part is written independently and marked with a
           ``.checkpoint`` marker so a rerun resumes at the first
           unwritten file (py:328-367), with retry around each write.

Differences from the reference, on purpose:
- counts come from a single pass (no eager ``df.count()`` before a
  write that recomputes the scan — the reference's anti-pattern at
  py:124 and :317-325); validation counting is opt-in.
- the join graph is config (plans.compiler), not hard-coded.
- works against any StateStore (local FS in tests, object store in
  production).
"""

from __future__ import annotations

import logging
import os
import time
from dataclasses import dataclass, field
from typing import Any, Callable, Mapping

from pyspark.sql import DataFrame, SparkSession

from oracle_cassandra_migrator_spark.plans.compiler import compile_transform
from oracle_cassandra_migrator_spark.reliability.progress import ProgressReporter
from oracle_cassandra_migrator_spark.reliability.retry import retry
from oracle_cassandra_migrator_spark.reliability.state import (
    LocalFSStateStore,
    StateStore,
)
from oracle_cassandra_migrator_spark.sinks.writers import (
    WRITE_PATH_FORMATS,
    write_file_idempotent,
    write_sink,
)
from oracle_cassandra_migrator_spark.sources.readers import read_source

logger = logging.getLogger(__name__)


@dataclass
class PipelineResult:
    name: str
    phases_run: list[str] = field(default_factory=list)
    files_written: int = 0
    files_skipped: int = 0
    duration_sec: float = 0.0
    # in-flight metrics captured DURING the transform write via
    # df.observe() — zero extra jobs (vs. the reference's count()-
    # after-write at py:317-325); {} when the phase was skipped on
    # resume (metrics describe work actually performed this run).
    transform_metrics: dict = field(default_factory=dict)


class Pipeline:
    """One table-pipeline: sources -> staged -> transform -> staged ->
    checkpointed sink. ``spec`` mirrors plans.compiler plus:

        {"name": ..., "staging_dir": ...,
         "sources": {...}, "transform": [...],
         "sink": {...},
         "validate_counts": false}
    """

    def __init__(
        self,
        spark: SparkSession,
        spec: Mapping[str, Any],
        state: StateStore | None = None,
    ):
        self.spark = spark
        self.spec = spec
        self.state = state or LocalFSStateStore()
        self.name = spec.get("name", "pipeline")
        self.staging = spec["staging_dir"]

    # -- phase 1 -----------------------------------------------------
    # Default layout: <staging_dir>/<name>/raw/<source> and
    # <staging_dir>/<name>/transformed. ``staging_raw_dir`` /
    # ``staging_transformed_dir`` override the two roots independently
    # — the reference's layout (s3a://bucket/<raw_prefix>/<source> and
    # s3a://bucket/<transformed_prefix>/<target>, py:189/:210), which
    # the --from-reference translator emits so existing IAM/lifecycle
    # rules scoped to those prefixes keep applying.
    def _raw_path(self, source_name: str) -> str:
        root = self.spec.get("staging_raw_dir")
        if root:
            return os.path.join(root, source_name)
        return os.path.join(self.staging, self.name, "raw", source_name)

    def _transformed_path(self) -> str:
        root = self.spec.get("staging_transformed_dir")
        if root:
            return root
        return os.path.join(self.staging, self.name, "transformed")

    def stage_sources(self, result: PipelineResult) -> dict[str, DataFrame]:
        staged: dict[str, DataFrame] = {}
        for src_name, src_spec in self.spec["sources"].items():
            path = self._raw_path(src_name)
            if self.state.output_committed(path):
                logger.info("[%s] raw staging exists for %s — skipping read",
                            self.name, src_name)
                result.files_skipped += 1
            else:
                df = read_source(self.spark, src_spec)
                write_sink(df, {
                    "format": "parquet", "path": path, "mode": "overwrite",
                    "repartition": src_spec.get("stage_partitions"),
                })
                result.phases_run.append(f"stage:{src_name}")
            # transform always consumes the staged copy (reference :398)
            staged[src_name] = self.spark.read.parquet(path)
        return staged

    # -- phase 2 -----------------------------------------------------
    def stage_transformed(self, result: PipelineResult) -> str:
        out = self._transformed_path()
        if self.state.output_committed(out):
            logger.info("[%s] transformed staging exists — skipping phases 1+2",
                        self.name)
            return out
        staged = self.stage_sources(result)
        df = compile_transform(self.spark, staged, self.spec["transform"])
        # Observation metrics ride the write job itself: n_rows always,
        # plus any spec-declared aggregate expressions ("observe":
        # {"metric": "agg expr"}). One job total — the metrics are
        # side outputs of the write, not follow-up scans.
        from pyspark.sql import Observation, functions as F

        obs = Observation(f"{self.name}-transform")
        metric_cols = [F.count(F.lit(1)).alias("n_rows")]
        for mname, expr in self.spec.get("observe", {}).items():
            metric_cols.append(F.expr(expr).alias(mname))
        df = df.observe(obs, *metric_cols)
        write_sink(df, {
            "format": "parquet", "path": out, "mode": "overwrite",
            "repartition": self.spec.get("transform_partitions"),
        })
        result.transform_metrics = dict(obs.get)
        logger.info("[%s] transform metrics: %s", self.name,
                    result.transform_metrics)
        result.phases_run.append("transform")
        return out

    # -- phase 3 -----------------------------------------------------
    def write_sink_checkpointed(self, staged_path: str,
                                result: PipelineResult) -> None:
        sink_spec = self.spec.get("sink")
        if not sink_spec:
            return
        files = [
            f for f in self.state.list(staged_path, suffix=".parquet")
        ]
        # row totals from parquet footers: progress %, at metadata cost
        # (the reference ran a count() job per file here — py:317-325)
        progress = ProgressReporter(files, name=self.name)
        retry_conf = self.spec.get("retry", {})
        writer = retry(
            retries=retry_conf.get("retries", 3),
            delay=retry_conf.get("delay", 5.0),
            backoff=retry_conf.get("backoff", 2.0),
            sleep=retry_conf.get("sleep", time.sleep),
        )(self._write_one_file)
        total = len(files)
        for idx, data_file in enumerate(files, start=1):
            marker = self.state.checkpoint_key(data_file)
            if self.state.exists(marker):
                logger.info("[%s] checkpoint exists for %s — skipping",
                            self.name, data_file)
                result.files_skipped += 1
                continue
            writer(data_file, sink_spec)
            self.state.put_marker(marker)
            result.files_written += 1
            progress.record(data_file)
            logger.info("[%s] sink progress: %d/%d files", self.name, idx, total)
        result.phases_run.append("sink")

    def _write_one_file(self, data_file: str, sink_spec: Mapping[str, Any]) -> None:
        df = self.spark.read.parquet(data_file)
        if sink_spec.get("format", "parquet").lower() in WRITE_PATH_FORMATS:
            # File sinks must be idempotent under crash-after-write-
            # before-marker: a plain append would duplicate the file's
            # rows on rerun. Write to a per-part temp dir (overwrite),
            # then rename outputs to deterministic names — replaying
            # the same staged part always lands on the same targets
            # (Hadoop-FS-backed, so local paths and object-store URIs
            # alike; see write_file_idempotent).
            base = os.path.splitext(
                data_file.rstrip("/").rsplit("/", 1)[-1])[0]
            write_file_idempotent(df, base, sink_spec)
        else:
            # Keyed sinks (JDBC upsert targets, Cassandra) are
            # idempotent by primary key — the reference's model; append.
            write_sink(df, dict(sink_spec))

    # -- driver ------------------------------------------------------
    def run(self) -> PipelineResult:
        start = time.time()
        result = PipelineResult(name=self.name)
        staged = self.stage_transformed(result)
        self.write_sink_checkpointed(staged, result)
        result.duration_sec = time.time() - start
        logger.info("[%s] pipeline complete in %.2fs (phases=%s, files=%d written/%d skipped)",
                    self.name, result.duration_sec, result.phases_run,
                    result.files_written, result.files_skipped)
        return result


def run_pipelines(
    spark: SparkSession,
    config: Mapping[str, Any],
    state: StateStore | None = None,
    on_result: Callable[[PipelineResult], None] | None = None,
) -> list[PipelineResult]:
    """Multi-table driver loop (reference R5 ``main``, py:424-448):
    sequential over ``config['tables']`` by default; each table
    resumes from its own markers independently.

    Opt-in concurrency (VERDICT r11 item 6): ``max_concurrent_tables:
    N`` runs up to N table pipelines in parallel driver threads — the
    reference imports ``threading`` (py:3) and never uses it, so
    concurrency is this engine's option, not a parity requirement.
    Safe by construction: every table's state (staging dirs, per-file
    ``.checkpoint`` markers) is keyed under its own name/paths, so
    concurrent tables never share a marker; Spark job submission is
    thread-safe and PySpark 4's pinned-thread mode makes the per-table
    ``setJobGroup`` tag thread-local, so each table's jobs carry its
    name in the UI and can be cancelled as a group. Logs keep the
    per-table ``[name]`` prefix. The results list stays in config
    order and ``on_result`` fires as tables complete (serialized by a
    lock); when a table fails, the remaining in-flight tables finish
    their current work and the FIRST failure (config order) is
    re-raised — a rerun then resumes exactly the unfinished tables
    (pytest-pinned in tests/test_pipeline.py)."""
    tables = config["tables"]
    shared = {k: v for k, v in config.items()
              if k not in ("tables", "max_concurrent_tables")}
    max_conc = int(config.get("max_concurrent_tables", 1))

    def run_one(table_spec: Mapping[str, Any]) -> PipelineResult:
        merged = {**shared, **table_spec}
        return Pipeline(spark, merged, state=state).run()

    if max_conc <= 1:
        results = []
        for table_spec in tables:
            res = run_one(table_spec)
            results.append(res)
            if on_result:
                on_result(res)
        return results

    import threading
    from concurrent.futures import ThreadPoolExecutor

    emit_lock = threading.Lock()

    def run_tagged(table_spec: Mapping[str, Any]) -> PipelineResult:
        name = table_spec.get("name", "pipeline")
        # thread-local under PYSPARK_PIN_THREAD (the 4.x default):
        # tags this table's jobs for UI attribution / group cancel
        spark.sparkContext.setJobGroup(
            f"table:{name}", f"pipeline table {name}")
        res = run_one(table_spec)
        if on_result:
            with emit_lock:
                on_result(res)
        return res

    outcomes: list[PipelineResult | None] = [None] * len(tables)
    first_err: Exception | None = None
    with ThreadPoolExecutor(
            max_workers=max_conc,
            thread_name_prefix="ocm-table") as pool:
        futures = [pool.submit(run_tagged, t) for t in tables]
        for i, fut in enumerate(futures):
            try:
                outcomes[i] = fut.result()
            except Exception as exc:  # noqa: BLE001 — re-raised below
                logger.exception(
                    "[%s] table pipeline failed",
                    tables[i].get("name", "pipeline"))
                if first_err is None:
                    first_err = exc
    if first_err is not None:
        raise first_err
    return outcomes

"""End-to-end tests of the phased resumable pipeline (reference
``migrate_table`` semantics: gates A/B, per-file checkpoints, retry)."""

import glob
import os

import pytest

from oracle_cassandra_migrator_spark.pipeline import Pipeline, run_pipelines
from oracle_cassandra_migrator_spark.reliability.state import LocalFSStateStore

from tests.conftest import SF_SMALL


def make_spec(tmp_path, name="t1"):
    return {
        "name": name,
        "staging_dir": str(tmp_path / "staging"),
        "sources": {
            "customer": {
                "format": "parquet",
                "path": f"{SF_SMALL}/customer.parquet",
                "filter": "c_acctbal > 0",
                "alias": "customer",
            },
            "orders": {
                "format": "parquet",
                "path": f"{SF_SMALL}/orders.parquet",
                "filter": "o_orderpriority = '1-URGENT'",
                "alias": "orders",
            },
        },
        "transform": [
            {"op": "join", "left": "customer", "right": "orders",
             "on": "customer.c_custkey = orders.o_custkey", "as": "j"},
            {"op": "select", "input": "j",
             "exprs": ["c_custkey AS customer_id", "c_name AS name",
                       "o_orderkey AS order_key", "o_totalprice AS total"]},
        ],
        "sink": {"format": "parquet", "path": str(tmp_path / "sink")},
        "retry": {"retries": 3, "delay": 0.0, "sleep": lambda s: None},
    }


def test_full_run_then_resume_skips_everything(spark, tmp_path):
    spec = make_spec(tmp_path)
    state = LocalFSStateStore()

    r1 = Pipeline(spark, spec, state).run()
    assert "transform" in r1.phases_run
    assert r1.files_written >= 1

    r2 = Pipeline(spark, spec, state).run()
    assert r2.files_written == 0
    assert r2.files_skipped == r1.files_written
    assert "transform" not in r2.phases_run


def test_partial_resume_rewrites_only_missing_file(spark, tmp_path):
    spec = make_spec(tmp_path)
    spec["transform_partitions"] = 3  # force multiple staged files
    state = LocalFSStateStore()
    r1 = Pipeline(spark, spec, state).run()
    assert r1.files_written == 3

    markers = glob.glob(
        str(tmp_path / "staging/t1/transformed/*.parquet.checkpoint"))
    os.remove(markers[0])
    r2 = Pipeline(spark, spec, state).run()
    assert r2.files_written == 1
    assert r2.files_skipped == 2


def test_upper_case_file_sink_format_keeps_every_staged_file(
        spark, tmp_path):
    """Sink formats are case-insensitive (write_sink lower-cases them),
    so "PARQUET" must take the idempotent per-file path too: a plain
    write_sink would overwrite the sink with each staged file in turn,
    keeping only the last file's rows."""
    spec = make_spec(tmp_path)
    spec["transform_partitions"] = 2
    spec["sink"] = {"format": "PARQUET", "path": str(tmp_path / "sink")}
    r = Pipeline(spark, spec, LocalFSStateStore()).run()
    assert r.files_written == 2
    staged = spark.read.parquet(str(tmp_path / "staging/t1/transformed"))
    sunk = spark.read.parquet(str(tmp_path / "sink"))
    assert sunk.count() == staged.count()


def test_pipeline_on_uri_paths_with_hadoop_state(spark, tmp_path):
    """All three phases over scheme-qualified URIs with the
    HadoopFSStateStore — the exact code path an object-store deployment
    takes (s3a://, gs://) modulo the FileSystem implementation behind
    the scheme. Exercises URI-safe staging, footer counts, per-file
    markers, and the temp-write + deterministic-rename sink."""
    from oracle_cassandra_migrator_spark.reliability.state import (
        HadoopFSStateStore,
    )

    spec = make_spec(tmp_path)
    spec["staging_dir"] = f"file://{tmp_path}/staging"
    spec["sink"]["path"] = f"file://{tmp_path}/sink"
    state = HadoopFSStateStore(spark)

    r1 = Pipeline(spark, spec, state).run()
    assert r1.files_written >= 1
    n = spark.read.parquet(f"file://{tmp_path}/sink").count()
    assert n > 0

    r2 = Pipeline(spark, spec, state).run()
    assert r2.files_written == 0
    assert "transform" not in r2.phases_run
    assert spark.read.parquet(f"file://{tmp_path}/sink").count() == n


def test_sink_output_matches_direct_query(spark, tmp_path):
    spec = make_spec(tmp_path)
    Pipeline(spark, spec, LocalFSStateStore()).run()
    sunk = spark.read.parquet(str(tmp_path / "sink"))

    customer = spark.read.parquet(f"{SF_SMALL}/customer.parquet")
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    expected = (
        customer.where("c_acctbal > 0")
        .join(orders.where("o_orderpriority = '1-URGENT'"),
              customer.c_custkey == orders.o_custkey)
    )
    assert sunk.count() == expected.count()
    assert set(sunk.columns) == {"customer_id", "name", "order_key", "total"}


def test_retry_exhaustion_leaves_no_checkpoint(spark, tmp_path, monkeypatch):
    spec = make_spec(tmp_path)
    state = LocalFSStateStore()
    pipe = Pipeline(spark, spec, state)
    staged = pipe.stage_transformed(
        __import__("oracle_cassandra_migrator_spark.pipeline",
                   fromlist=["PipelineResult"]).PipelineResult(name="x"))

    attempts = {"n": 0}

    def always_fail(self, data_file, sink_spec):
        attempts["n"] += 1
        raise RuntimeError("sink down")

    monkeypatch.setattr(Pipeline, "_write_one_file", always_fail)
    from oracle_cassandra_migrator_spark.pipeline import PipelineResult
    with pytest.raises(RuntimeError):
        pipe.write_sink_checkpointed(staged, PipelineResult(name="t1"))
    assert attempts["n"] == 3  # retried
    assert not glob.glob(
        str(tmp_path / "staging/t1/transformed/*.checkpoint"))


def test_multi_table_driver_loop(spark, tmp_path):
    config = {
        "staging_dir": str(tmp_path / "staging"),
        "tables": [
            {**make_spec(tmp_path, "a")},
            {**make_spec(tmp_path, "b")},
        ],
    }
    results = run_pipelines(spark, config)
    assert [r.name for r in results] == ["a", "b"]
    assert all(r.files_written >= 1 for r in results)


def test_crash_after_write_before_marker_does_not_duplicate(spark, tmp_path):
    """The at-least-once window: sink write succeeded but the process
    died before the marker was written. The rerun must overwrite, not
    append — sink row count must equal the staged row count exactly."""
    spec = make_spec(tmp_path)
    state = LocalFSStateStore()
    r1 = Pipeline(spark, spec, state).run()
    assert r1.files_written >= 1
    expected = spark.read.parquet(str(tmp_path / "sink")).count()

    # simulate the crash window: markers gone, sink data present
    for marker in glob.glob(
            str(tmp_path / "staging/t1/transformed/*.checkpoint")):
        os.remove(marker)
    r2 = Pipeline(spark, spec, state).run()
    assert r2.files_written == r1.files_written  # rewrote every file
    assert spark.read.parquet(str(tmp_path / "sink")).count() == expected


def test_transform_observation_metrics_ride_the_write(spark, tmp_path):
    """df.observe() metrics are captured during the transform write —
    n_rows always, spec-declared aggregates too — with NO extra count
    job; a resumed run that skips the phase reports no metrics (it did
    no transform work)."""
    spec = make_spec(tmp_path)
    spec["observe"] = {
        "n_null_names": "sum(CASE WHEN name IS NULL THEN 1 ELSE 0 END)",
        "max_total": "max(total)",
    }
    state = LocalFSStateStore()
    r1 = Pipeline(spark, spec, state).run()
    sink_rows = spark.read.parquet(str(tmp_path / "sink")).count()
    assert r1.transform_metrics["n_rows"] == sink_rows > 0
    assert r1.transform_metrics["n_null_names"] == 0
    assert r1.transform_metrics["max_total"] == \
        spark.read.parquet(str(tmp_path / "sink")).agg(
            {"total": "max"}).collect()[0][0]
    r2 = Pipeline(spark, spec, state).run()
    assert r2.transform_metrics == {}


def test_corpus_refresh_example_spec_runs_end_to_end(spark):
    """The shipped corpus-refresh example (expect gate -> bloom anti
    join -> exact dedup -> length filter -> quartile tag -> zorder)
    must run through the real Pipeline runner, resume idempotently,
    and report its Observation metrics."""
    import json
    import pathlib
    import shutil

    shutil.rmtree("/tmp/ocm-refresh", ignore_errors=True)
    spec_path = (pathlib.Path(__file__).resolve().parent.parent
                 / "examples" / "corpus_refresh_pipeline.json")
    cfg = json.load(open(spec_path))
    spec = cfg["tables"][0]
    spec["staging_dir"] = cfg["staging_dir"]  # run_pipelines injects this
    spec["retry"] = {"retries": 3, "delay": 0.0, "sleep": lambda s: None}
    state = LocalFSStateStore()
    r1 = Pipeline(spark, spec, state).run()
    assert r1.files_written > 0
    assert r1.transform_metrics["n_null_text"] == 0
    out = spark.read.parquet("/tmp/ocm-refresh/out")
    assert 0 < out.count() <= 100          # only the incoming slice
    assert "bucket" in out.columns
    assert out.where("n_chars < 40").count() == 0
    assert r1.transform_metrics["n_rows"] == out.count()
    r2 = Pipeline(spark, spec, state).run()
    assert r2.files_written == 0 and r2.transform_metrics == {}
    shutil.rmtree("/tmp/ocm-refresh", ignore_errors=True)


def test_example_spec_fingerprint_keys_match_fingerprint_expr(spark):
    """Regression for the JSON-escaping trap (ADVICE r5): a spec key of
    ``'\\s+'`` in JSON reaches Spark SQL as ``'\\s+'``-with-one-slash,
    which Spark's string literal unescapes to the regex ``s+`` —
    collapsing runs of the LETTER s, not whitespace. Both shipped
    example specs must carry exactly ``fingerprint_expr('text')``, and
    the expression must actually collapse whitespace variants."""
    import json
    import pathlib

    from oracle_cassandra_migrator_spark.operators.text import (
        fingerprint_expr)

    root = pathlib.Path(__file__).resolve().parent.parent / "examples"
    want = fingerprint_expr("text")
    for name in ("corpus_refresh_pipeline.json", "curation_pipeline.json"):
        cfg = json.load(open(root / name))
        found = []
        def walk(o):
            if isinstance(o, dict):
                for k, v in o.items():
                    if k in ("left_key", "right_key", "fingerprint"):
                        found.append(v)
                    walk(v)
            elif isinstance(o, list):
                for v in o:
                    walk(v)
        walk(cfg)
        assert found, name
        for expr in found:
            assert expr == want, (name, expr)
    # And the expression's semantics: whitespace variants collapse to
    # one fingerprint; an s-run variant does NOT collapse to it.
    row = spark.sql(
        f"SELECT {want} AS a, "
        f"{fingerprint_expr(repr('hello   world'))} AS b, "
        f"{fingerprint_expr(repr('hesssllo world'))} AS c "
        f"FROM (SELECT 'hello world' AS text)").collect()[0]
    assert row.a == row.b
    assert row.a != row.c


def test_linkage_example_spec_runs_end_to_end(spark):
    """The shipped record-linkage example (dirty probe build ->
    fuzzy_join -> expect gate -> sink) must run through the real
    Pipeline runner and produce one best match per probe."""
    import json
    import pathlib
    import shutil

    shutil.rmtree("/tmp/ocm-linkage", ignore_errors=True)
    spec_path = (pathlib.Path(__file__).resolve().parent.parent
                 / "examples" / "linkage_pipeline.json")
    cfg = json.load(open(spec_path))
    spec = cfg["tables"][0]
    spec["staging_dir"] = cfg["staging_dir"]
    spec["retry"] = {"retries": 3, "delay": 0.0, "sleep": lambda s: None}
    state = LocalFSStateStore()
    r1 = Pipeline(spark, spec, state).run()
    assert r1.files_written > 0
    out = spark.read.parquet("/tmp/ocm-linkage/out")
    n_cust = spark.read.parquet(
        "/root/testdata/sf0.001/customer.parquet").count()
    assert out.count() == n_cust              # every probe matched
    assert out.where("lev_dist > 1").count() == 0
    assert out.where("is_correct").count() > 0
    r2 = Pipeline(spark, spec, state).run()
    assert r2.files_written == 0
    shutil.rmtree("/tmp/ocm-linkage", ignore_errors=True)


def test_analytics_example_spec_runs_end_to_end(spark):
    """The shipped feature-prep example (winsorize -> target_encode
    join -> decile assign -> expect gate -> sink) must run through the
    real Pipeline runner; the output keeps every order, carries a
    non-NULL encoding, buckets in 1..10, and clamps within the raw
    price envelope."""
    import json
    import pathlib
    import shutil

    shutil.rmtree("/tmp/ocm-analytics", ignore_errors=True)
    spec_path = (pathlib.Path(__file__).resolve().parent.parent
                 / "examples" / "analytics_pipeline.json")
    cfg = json.load(open(spec_path))
    spec = cfg["tables"][0]
    spec["staging_dir"] = cfg["staging_dir"]
    spec["retry"] = {"retries": 3, "delay": 0.0, "sleep": lambda s: None}
    state = LocalFSStateStore()
    r1 = Pipeline(spark, spec, state).run()
    assert r1.files_written > 0
    out = spark.read.parquet("/tmp/ocm-analytics/out")
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    assert out.count() == orders.count()
    assert out.where("enc IS NULL").count() == 0
    assert out.where("bucket < 1 OR bucket > 10").count() == 0
    lo, hi = orders.selectExpr(
        "min(o_totalprice)", "max(o_totalprice)").collect()[0]
    got_lo, got_hi = out.selectExpr(
        "min(price_w)", "max(price_w)").collect()[0]
    assert lo <= got_lo and got_hi <= hi
    # clamp actually bit: the winsorized extremes are strictly inside
    assert got_lo > lo and got_hi < hi
    r2 = Pipeline(spark, spec, state).run()
    assert r2.files_written == 0
    shutil.rmtree("/tmp/ocm-analytics", ignore_errors=True)


def test_curation_example_spec_runs_end_to_end_with_drift_gate(spark):
    """The shipped curation example (expect -> psi_gate -> bloom anti
    join -> dedup -> filter -> quantile bucket -> zorder sink) must run
    through the real Pipeline runner; the PSI drift gate passes (the
    incoming corpus IS the base snapshot's distribution) and a
    tightened gate on a shifted copy aborts before any write."""
    import copy
    import json
    import pathlib
    import shutil

    shutil.rmtree("/tmp/ocm-curation", ignore_errors=True)
    spec_path = (pathlib.Path(__file__).resolve().parent.parent
                 / "examples" / "curation_pipeline.json")
    cfg = json.load(open(spec_path))
    spec = cfg["tables"][0]
    spec["staging_dir"] = cfg["staging_dir"]
    state = LocalFSStateStore()
    r1 = Pipeline(spark, copy.deepcopy(spec), state).run()
    assert r1.files_written > 0
    out = spark.read.parquet(spec["sink"]["path"])
    assert out.count() > 0
    # abort path: PSI is >= 0 by construction (every (p-q)ln(p/q)
    # term is non-negative and the micro floor preserves that), so a
    # negative threshold deterministically trips the gate through the
    # full Pipeline runner before any write
    bad = copy.deepcopy(spec)
    gate = [s for s in bad["transform"] if s["op"] == "psi_gate"][0]
    gate["max_psi_micro"] = -1
    shutil.rmtree("/tmp/ocm-curation", ignore_errors=True)
    with pytest.raises(ValueError, match="psi_gate failed"):
        Pipeline(spark, bad, LocalFSStateStore()).run()
    shutil.rmtree("/tmp/ocm-curation", ignore_errors=True)


def test_selection_example_spec_runs_end_to_end(spark):
    """The shipped DSIR selection example (expect -> exact dedup ->
    dsir_select -> expect gate -> sink) through the real Pipeline
    runner: exactly k rows out, every row weighted, all rows from the
    source corpus, and the pipeline resumes as a no-op."""
    import json
    import pathlib
    import shutil

    shutil.rmtree("/tmp/ocm-selection", ignore_errors=True)
    spec_path = (pathlib.Path(__file__).resolve().parent.parent
                 / "examples" / "selection_pipeline.json")
    cfg = json.load(open(spec_path))
    spec = cfg["tables"][0]
    spec["staging_dir"] = cfg["staging_dir"]
    spec["retry"] = {"retries": 3, "delay": 0.0, "sleep": lambda s: None}
    state = LocalFSStateStore()
    r1 = Pipeline(spark, spec, state).run()
    assert r1.files_written > 0
    out = spark.read.parquet("/tmp/ocm-selection/out")
    assert out.count() == 200
    assert out.where("logw_micro IS NULL").count() == 0
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert out.join(docs.select("doc_id"), "doc_id").count() == 200
    r2 = Pipeline(spark, spec, state).run()
    assert r2.files_written == 0
    shutil.rmtree("/tmp/ocm-selection", ignore_errors=True)


def test_incremental_rollup_example_spec(spark):
    """The shipped incremental-maintenance example (base rollup +
    config-synthesized CDC -> maintain_agg -> sink) must run through
    the real Pipeline runner and equal a from-scratch recompute of the
    post-CDC state; rerunning resumes as a no-op."""
    import json
    import pathlib
    import shutil

    shutil.rmtree("/tmp/ocm-incremental", ignore_errors=True)
    spec_path = (pathlib.Path(__file__).resolve().parent.parent
                 / "examples" / "incremental_rollup_pipeline.json")
    cfg = json.load(open(spec_path))
    spec = cfg["tables"][0]
    spec["staging_dir"] = cfg["staging_dir"]
    spec["retry"] = {"retries": 3, "delay": 0.0, "sleep": lambda s: None}
    state = LocalFSStateStore()
    r1 = Pipeline(spark, spec, state).run()
    assert r1.files_written > 0

    out = spark.read.parquet("/tmp/ocm-incremental/out")
    got = {(r.o_orderstatus, r.o_orderpriority): (r.n, int(r.s))
           for r in out.collect()}

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    orders.createOrReplaceTempView("t_incr_orders")
    want = {(r.st, r.pr): (r.n, int(r.s)) for r in spark.sql("""
        WITH o AS (
          SELECT o_orderkey AS k, o_orderstatus AS st,
                 o_orderpriority AS pr,
                 CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
                 CAST(o_orderdate AS DATE) AS d
          FROM t_incr_orders),
        final AS (
          SELECT st, pr,
                 CASE WHEN d < DATE '1999-01-01' AND k % 97 = 0
                      THEN (cents * 11) DIV 10 ELSE cents END AS cents
          FROM o
          WHERE NOT (d < DATE '1999-01-01' AND k % 89 = 0
                     AND k % 97 <> 0))
        SELECT st, pr, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS DECIMAL(38,0)) AS s
        FROM final GROUP BY 1, 2
    """).collect()}
    assert got == want

    r2 = Pipeline(spark, spec, state).run()
    assert r2.files_written == 0
    shutil.rmtree("/tmp/ocm-incremental", ignore_errors=True)


def test_bucketed_layout_example_pipeline_e2e(spark, tmp_path):
    """examples/bucketed_layout_pipeline.json end-to-end: layout
    specs materialize the bucketed metastore tables during phase 1,
    the join+rollup runs over them, and the result equals the plain
    plan's. The zero-order-key-Exchange plan itself is gated in
    tests/test_bucketing.py — this pins the PIPELINE wiring."""
    import json
    import pathlib

    cfg = json.loads(
        (pathlib.Path(__file__).resolve().parent.parent
         / "examples" / "bucketed_layout_pipeline.json").read_text())
    cfg["staging_dir"] = str(tmp_path / "staging")
    table = cfg["tables"][0]
    table["sink"]["path"] = str(tmp_path / "sink")
    for src in table["sources"].values():
        src["layout"]["refresh"] = True
    try:
        results = run_pipelines(spark, cfg)
        assert results[0].files_written >= 1
        got = spark.read.parquet(str(tmp_path / "sink"))
        # bucketed tables exist in the catalog under the spec names
        assert spark.catalog.tableExists("example_orders_b8")
        assert spark.catalog.tableExists("example_lineitem_b8")
        # result equals the plain (unbucketed) computation, VALUES
        # included — a count-only check would miss a wrong source
        # file, a dropped discount term, or swapped aggregates
        from pyspark.sql import functions as F

        orders = spark.read.parquet(
            "/root/testdata/sf0.001/orders.parquet")
        li = spark.read.parquet(
            "/root/testdata/sf0.001/lineitem.parquet")
        want = (orders.join(li, orders.o_orderkey == li.l_orderkey)
                .selectExpr("o_orderkey AS order_key",
                            "o_orderpriority AS priority",
                            "l_extendedprice * (1 - l_discount)"
                            " AS net_price")
                .groupBy("order_key", "priority")
                .agg(F.expr("sum(net_price) AS order_net"),
                     F.expr("count(*) AS n_lines")))
        got_rows = sorted(map(tuple, got.select(
            "order_key", "priority", "order_net", "n_lines").collect()))
        want_rows = sorted(map(tuple, want.collect()))
        assert got_rows == want_rows and len(want_rows) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS example_orders_b8")
        spark.sql("DROP TABLE IF EXISTS example_lineitem_b8")


def test_neardedup_example_pipeline_e2e(spark, tmp_path):
    """examples/neardedup_curation_pipeline.json end-to-end: the
    dedup_near step runs inside the phased pipeline and the sink holds
    exactly the is_kept representatives of the decisions table (pinned
    operator-equal in tests/test_compiler.py) — the PIPELINE wiring
    pin for VERDICT r9 item 3."""
    import json
    import pathlib

    from oracle_cassandra_migrator_spark.queries.extensions import (
        dedup_minhash_prune)

    cfg = json.loads(
        (pathlib.Path(__file__).resolve().parent.parent
         / "examples" / "neardedup_curation_pipeline.json").read_text())
    cfg["staging_dir"] = str(tmp_path / "staging")
    table = cfg["tables"][0]
    table["sink"]["path"] = str(tmp_path / "out")
    results = run_pipelines(spark, cfg)
    assert results[0].files_written >= 1
    got = spark.read.parquet(str(tmp_path / "out"))
    want_kept = {r["doc_id"] for r in dedup_minhash_prune(
        spark, SF_SMALL).where("is_kept").collect()}
    assert {r["doc_id"] for r in got.collect()} == want_kept
    assert 0 < len(want_kept)


def test_sampling_example_pipeline_e2e(spark, tmp_path):
    """examples/sampling_curation_pipeline.json end-to-end: the full
    curation chain (dedup_near filter -> quality gate ->
    sample_temperature -> sample_fixed_n) runs inside the phased
    pipeline and the sink holds exactly the pipeline_sample_stage
    catalog query's survivors — the PIPELINE wiring pin for VERDICT
    r10 item 5 (the sample/mix stage no longer exits the spec)."""
    import json
    import pathlib

    from oracle_cassandra_migrator_spark.queries.round11 import (
        pipeline_sample_stage)

    cfg = json.loads(
        (pathlib.Path(__file__).resolve().parent.parent
         / "examples" / "sampling_curation_pipeline.json").read_text())
    cfg["staging_dir"] = str(tmp_path / "staging")
    table = cfg["tables"][0]
    table["sink"]["path"] = str(tmp_path / "out")
    results = run_pipelines(spark, cfg)
    assert results[0].files_written >= 1
    got = spark.read.parquet(str(tmp_path / "out"))
    want = {(r["doc_id"], r["lang"]) for r in pipeline_sample_stage(
        spark, SF_SMALL).collect()}
    assert {(r["doc_id"], r["lang"]) for r in got.collect()} == want
    assert 0 < len(want)
    sizes = got.groupBy("lang").count().collect()
    assert all(r["count"] <= 15 for r in sizes)


def test_media_example_pipeline_e2e(spark, tmp_path):
    """examples/media_curation_pipeline.json end-to-end: the
    multimodal chain (decode_media -> media quality gate -> dedup_near
    filter -> per-format fixed-n cut) runs inside the phased pipeline
    over a real binary-payload parquet table and the sink holds
    exactly the pipeline_media_stage catalog query's survivors — the
    PIPELINE wiring pin for VERDICT r11 item 3 (the decode stage no
    longer exits the spec)."""
    import json
    import pathlib

    from oracle_cassandra_migrator_spark.operators.multimodal import (
        synthesized_payloads)
    from oracle_cassandra_migrator_spark.queries.round12 import (
        pipeline_media_stage)
    from oracle_cassandra_migrator_spark.sources.testdata import read_table

    docs = read_table(spark, SF_SMALL, "documents")
    src = str(tmp_path / "media_docs.parquet")
    synthesized_payloads(docs, extra_cols=("text",)).write.parquet(src)

    cfg = json.loads(
        (pathlib.Path(__file__).resolve().parent.parent
         / "examples" / "media_curation_pipeline.json").read_text())
    cfg["staging_dir"] = str(tmp_path / "staging")
    table = cfg["tables"][0]
    table["sources"]["media_docs"]["path"] = src
    table["sink"]["path"] = str(tmp_path / "out")
    results = run_pipelines(spark, cfg)
    assert results[0].files_written >= 1
    got = spark.read.parquet(str(tmp_path / "out"))
    want = {tuple(r) for r in pipeline_media_stage(
        spark, SF_SMALL).collect()}
    assert {tuple(r) for r in got.collect()} == want
    assert 0 < len(want)
    sizes = got.groupBy("mm_format").count().collect()
    assert all(r["count"] <= 10 for r in sizes) and len(sizes) >= 5


def test_embedding_example_pipeline_e2e(spark, tmp_path):
    """examples/embedding_curation_pipeline.json end-to-end: the
    embedding chain (embed_neardup filter -> fixed-n eval cut ->
    L2-norm projection) runs inside the phased pipeline over the
    embeddings parquet table and the sink holds exactly the
    pipeline_embed_stage catalog query's rows — the PIPELINE wiring
    pin for the r12 embed_neardup step (the semantic dedup stage no
    longer exits the spec)."""
    import json
    import pathlib

    from oracle_cassandra_migrator_spark.queries.round12 import (
        pipeline_embed_stage)

    cfg = json.loads(
        (pathlib.Path(__file__).resolve().parent.parent
         / "examples" / "embedding_curation_pipeline.json").read_text())
    cfg["staging_dir"] = str(tmp_path / "staging")
    table = cfg["tables"][0]
    table["sources"]["emb"]["path"] = f"{SF_SMALL}/embeddings.parquet"
    table["sink"]["path"] = str(tmp_path / "out")
    results = run_pipelines(spark, cfg)
    assert results[0].files_written >= 1
    got = spark.read.parquet(str(tmp_path / "out"))
    want = {tuple(r) for r in pipeline_embed_stage(
        spark, SF_SMALL).collect()}
    assert {tuple(r) for r in got.collect()} == want
    assert len(want) == 25  # the fixed-n cut is exact at sf0.001


def _tiny_table_spec(tmp_path, name, table, key):
    return {
        "name": name,
        "sources": {table: {"format": "parquet",
                            "path": f"{SF_SMALL}/{table}.parquet",
                            "alias": table}},
        "transform": [{"op": "select", "input": table,
                       "exprs": [f"{key} AS k"]}],
        "sink": {"format": "parquet", "path": str(tmp_path / f"sink_{name}")},
        "retry": {"retries": 1, "delay": 0.0, "sleep": lambda s: None},
    }


def test_concurrent_driver_loop_matches_sequential(spark, tmp_path):
    """VERDICT r11 item 6: max_concurrent_tables runs table pipelines
    in parallel driver threads; same sinks, same results, results list
    in config order; the default stays the sequential loop."""
    def cfg(root, conc):
        c = {"staging_dir": str(root / "staging"),
             "tables": [
                 _tiny_table_spec(root, "t1", "nation", "n_nationkey"),
                 _tiny_table_spec(root, "t2", "region", "r_regionkey"),
                 _tiny_table_spec(root, "t3", "customer", "c_custkey")]}
        if conc:
            c["max_concurrent_tables"] = conc
        return c

    seq_root = tmp_path / "seq"
    con_root = tmp_path / "con"
    seq_root.mkdir(), con_root.mkdir()
    seen = []
    seq = run_pipelines(spark, cfg(seq_root, None))
    con = run_pipelines(spark, cfg(con_root, 3),
                        on_result=lambda r: seen.append(r.name))
    assert [r.name for r in seq] == [r.name for r in con] == [
        "t1", "t2", "t3"]
    assert sorted(seen) == ["t1", "t2", "t3"]  # completion order varies
    for name in ("t1", "t2", "t3"):
        a = spark.read.parquet(str(seq_root / f"sink_{name}"))
        b = spark.read.parquet(str(con_root / f"sink_{name}"))
        assert sorted(r["k"] for r in a.collect()) == \
            sorted(r["k"] for r in b.collect())
    assert all(r.files_written >= 1 for r in con)


def test_concurrent_driver_loop_failure_then_resume(
        spark, tmp_path, monkeypatch):
    """A mid-run failure in ONE table (concurrent run) must not poison
    the others: the healthy tables finish, the first failure is
    re-raised, and a rerun resumes EXACTLY the unfinished table —
    the healthy tables' phases all skip."""
    cfg = {"staging_dir": str(tmp_path / "staging"),
           "max_concurrent_tables": 3,
           "tables": [
               _tiny_table_spec(tmp_path, "t1", "nation", "n_nationkey"),
               _tiny_table_spec(tmp_path, "t2", "region", "r_regionkey"),
               _tiny_table_spec(tmp_path, "t3", "customer", "c_custkey")]}

    real = Pipeline._write_one_file

    def faulty(self, data_file, sink_spec):
        if self.name == "t2":
            raise RuntimeError("injected sink failure for t2")
        return real(self, data_file, sink_spec)

    monkeypatch.setattr(Pipeline, "_write_one_file", faulty)
    with pytest.raises(RuntimeError, match="injected sink failure"):
        run_pipelines(spark, cfg)
    # healthy tables landed despite t2's failure
    assert spark.read.parquet(str(tmp_path / "sink_t1")).count() == 25
    assert spark.read.parquet(str(tmp_path / "sink_t3")).count() > 0
    assert not (tmp_path / "sink_t2").exists()

    monkeypatch.setattr(Pipeline, "_write_one_file", real)
    results = run_pipelines(spark, cfg)
    by_name = {r.name: r for r in results}
    # t1/t3: everything skips — no transform rerun, no files rewritten
    for name in ("t1", "t3"):
        assert by_name[name].files_written == 0
        assert "transform" not in by_name[name].phases_run
    # t2: the staged transform is reused, only the sink completes
    assert by_name["t2"].files_written >= 1
    assert "transform" not in by_name["t2"].phases_run
    assert spark.read.parquet(str(tmp_path / "sink_t2")).count() == 5

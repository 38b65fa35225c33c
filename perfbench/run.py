#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all [--seed N --seconds S --trace 0|1]

One invocation runs one workload in one fresh process: it sets the
session up, generates the inputs from ``--seed``, runs whole rounds of
the workload's job until ``--seconds`` have passed, checks the outputs
against an independent computation, and prints one JSON object as the
last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics listed in
BENCHMARK.json; with ``--trace 1`` they are its per-layer metrics, from
rounds that alternate untraced and traced: the untraced ones give the
workload-level figures (``resume_s``, ``batch_p50_ms``, ``disk_mb``)
and ``trace.untraced_job_s``, the traced ones the layer figures;
``trace.overhead_pct`` is the tracer's own bookkeeping time as a share
of the traced ``job_s``. ``--workload all`` runs every workload, each in its
own process, and prints one JSON object keyed by workload.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from types import SimpleNamespace  # noqa: E402

import harness  # noqa: E402
import spans  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = {
    "migrate": "wl_migrate",
    "curate": "wl_curate",
    "analytics": "wl_analytics",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def run_all(args) -> int:
    results = {}
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{name}: exit code {proc.returncode}", file=sys.stderr)
            return 1
        results[name] = json.loads(lines[-1])
        for metric, v in results[name]["metrics"].items():
            print(f"{name:10s} {metric:40s} {v['value']:12.4f} {v['unit']}")
    print(json.dumps(results))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    # the package under test lives at the checkout root; fail before
    # any set-up when it is not there
    sys.path.insert(0, ROOT)
    import oracle_cassandra_migrator_spark as package

    if not os.path.abspath(package.__file__).startswith(ROOT + os.sep):
        sys.exit(f"package under test resolved outside {ROOT}: "
                 f"{package.__file__}")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    harness.confine_to(work)
    spark = None
    try:
        spark, build_s, warmup_s = harness.start_session()
        setup_s = time.perf_counter() - PROCESS_START
        ctx = SimpleNamespace(spark=spark, seed=args.seed, work=work,
                              cores=harness.cores(), trace=bool(args.trace))
        wl = importlib.import_module(WORKLOADS[args.workload]).Workload(ctx)
        wl.prepare()
        result = measure(args, ctx, wl)
        if args.trace:
            metrics = trace_metrics(result, build_s, warmup_s)
            wanted = bench["per_layer"]
            os.makedirs(os.path.join(ROOT, ".perfbench_traces"),
                        exist_ok=True)
            with open(os.path.join(
                    ROOT, ".perfbench_traces",
                    f"{args.workload}-{args.seed}.json"), "w") as f:
                json.dump(result["spans"], f)
        else:
            metrics = {
                "setup_s": setup_s,
                "job_s": statistics.median(result["job_s"]),
                "job_cpu_s": statistics.median(result["job_cpu_s"]),
                "peak_rss_mb": harness.peak_rss_mb(spark),
            }
            wanted = bench["end_to_end"]
        out = {
            "correct": not result["problems"],
            "attempted": result["attempted"],
            "failed": result["failed"],
            "metrics": {m["name"]: {"value": float(metrics.get(m["name"], 0.0)),
                                    "unit": m["unit"]} for m in wanted},
        }
    finally:
        if spark is not None:
            harness.stop_session(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    for problem in result["problems"]:
        print(f"CHECK FAILED: {problem}", file=sys.stderr)
    print(json.dumps(out))
    return 0


def measure(args, ctx, wl) -> dict:
    """Whole rounds until ``--seconds`` have passed. Traced runs
    alternate untraced and traced rounds, at least one of each."""
    res = {"job_s": [], "job_cpu_s": [], "untraced_job_s": [], "traced_job_s": [],
           "trace_self_s": [], "extra": [], "layer": [], "problems": [],
           "attempted": 0, "failed": 0, "spans": []}

    def one_round(i: int) -> None:
        traced = bool(args.trace) and i % 2 == 1
        tracer = (spans.Tracer(ctx.spark, f"{args.seed}-{i}") if traced
                  else spans.NullTracer())
        before = spans.last_job_id(ctx.spark) if traced else -1
        if traced:
            wl.install(tracer)
        try:
            r = wl.round(tracer)
        finally:
            if traced:
                tracer.restore()
        res["job_s"].append(r["job_s"])
        res["job_cpu_s"].append(r["job_cpu_s"])
        res["problems"].extend(r["problems"])
        res["attempted"] += r["ops"][0]
        res["failed"] += r["ops"][1]
        if traced:
            jobs = spans.spark_jobs(ctx.spark, before, r.get("run_ids",
                                                             frozenset()))
            layer = dict(r.get("layer", {}))
            layer.update(spans.layer_stage_metrics(jobs))
            layer.update(wl.layer_from_trace(tracer, jobs))
            layer.setdefault("operators.cached_mb", harness.cached_mb(ctx.spark))
            res["layer"].append(layer)
            res["traced_job_s"].append(r["job_s"])
            res["trace_self_s"].append(tracer.self_s)
            res["spans"].extend(tracer.spans)
        else:
            res["extra"].append(r.get("e2e_extra", {}))
            res["untraced_job_s"].append(r["job_s"])

    harness.repeat_rounds(args.seconds, one_round,
                          min_rounds=2 if args.trace else 1)
    return res


def _medians(dicts: list[dict]) -> dict:
    keys = {k for d in dicts for k in d}
    return {k: statistics.median(d[k] for d in dicts if k in d) for k in keys}


def trace_metrics(res: dict, build_s: float, warmup_s: float) -> dict:
    metrics = _medians(res["layer"])
    metrics.update(_medians(res["extra"]))
    traced = statistics.median(res["traced_job_s"])
    metrics.update({
        "session.build_s": build_s,
        "session.warmup_s": warmup_s,
        "trace.job_s": traced,
        "trace.untraced_job_s": statistics.median(res["untraced_job_s"]),
        "trace.overhead_pct": 100.0 * statistics.median(
            res["trace_self_s"]) / traced,
    })
    return metrics


if __name__ == "__main__":
    sys.exit(main())

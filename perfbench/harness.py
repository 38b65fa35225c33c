"""Session set-up, run isolation and resource probes shared by the
workloads. Nothing here changes how the program runs: the session is
the package's own ``build_session`` with ``DEFAULT_CONF``; only its
master (``local[n]``, n = usable cores) is chosen here."""

from __future__ import annotations

import os
import shutil
import time


def cores() -> int:
    return len(os.sched_getaffinity(0))


def confine_to(work: str) -> None:
    """Point every scratch location of Python, the JVM, Spark and Derby
    at ``work`` before the JVM starts, so a run writes nowhere else."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # PerfDisableSharedMem: no /tmp/hsperfdata_<user>/<pid> file, which
    # HotSpot writes under /tmp whatever java.io.tmpdir says
    java_opts = (f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} "
                 "-XX:+PerfDisableSharedMem")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "{java_opts}" pyspark-shell')
    os.chdir(work)


def start_session():
    """Build the session (``local[n]`` over the usable cores, everything
    else ``DEFAULT_CONF``) and run its warm-up job. Returns
    (spark, build_s, warmup_s)."""
    from oracle_cassandra_migrator_spark.session import build_session

    t0 = time.perf_counter()
    spark = build_session(app_name="perfbench", master=f"local[{cores()}]")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    # warm-up: one shuffle aggregation plus a parquet round trip, the
    # two job shapes every workload starts with
    path = os.path.join(os.environ["TMPDIR"], "warmup.parquet")
    (spark.range(200_000, numPartitions=cores())
     .selectExpr("id % 1000 AS k", "id AS v")
     .groupBy("k").sum("v")
     .write.mode("overwrite").parquet(path))
    spark.read.parquet(path).selectExpr("sum(k)").collect()
    shutil.rmtree(path, ignore_errors=True)
    return spark, t1 - t0, time.perf_counter() - t1


def isolate(spark) -> None:
    """Drop every cached table and persisted RDD, so the next job runs
    cold rather than from a previous job's storage."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def cached_mb(spark) -> float:
    """Storage (memory + disk) still held by persisted RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _jvm_pid(spark) -> int:
    return spark._jvm.java.lang.ProcessHandle.current().pid()


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    return (_vm_hwm_kb(_jvm_pid(spark)) + _vm_hwm_kb(os.getpid())) / 1024.0


def cpu_s(spark) -> float:
    """CPU seconds (user + system) used so far by the driver JVM and
    this Python process."""
    with open(f"/proc/{_jvm_pid(spark)}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    jvm = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    t = os.times()
    return jvm + t.user + t.system


def dir_mb(*paths: str) -> float:
    total = 0
    for root in paths:
        for dirpath, _, files in os.walk(root):
            for name in files:
                total += os.path.getsize(os.path.join(dirpath, name))
    return total / 1e6


def reset_dirs(*paths: str) -> None:
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)


def repeat_rounds(seconds: float, one_round, min_rounds: int = 1) -> None:
    """Run whole rounds until ``seconds`` have passed (at least
    ``min_rounds``)."""
    deadline = time.perf_counter() + seconds
    n = 0
    while n < min_rounds or time.perf_counter() < deadline:
        one_round(n)
        n += 1


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None

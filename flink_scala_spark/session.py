"""SparkSession builder tuned for this engine.

Local-mode testing runs on ``local[N]`` (one JVM); the configs below are
chosen so the same logical plans scale to a multi-executor cluster:
AQE handles runtime partition coalescing and skew joins, shuffle
partitions default to core count locally (cluster deployments should
raise it to ~2-3x total cores), session timezone is pinned to UTC so
event-time semantics are deterministic and DuckDB-comparable.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession


#: Runtime SQL confs of every session the engine runs on: ``get_spark``
#: builds with them and ``tune_existing`` sets them on a session it did
#: not build, so the two cannot drift apart.
SQL_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # flattened-embedding pair joins carry 2x(64+2) columns; the
    # default maxFields=100 silently drops those stages out of
    # whole-stage codegen (~3x slower scoring)
    "spark.sql.codegen.maxFields": "256",
    # the bounded runner sums q.recentProgress, which Spark caps at
    # this many reports (default 100): keep every report of a replay
    "spark.sql.streaming.numRecentProgressUpdates": "10000",
}


def _half_memory() -> str:
    """Half the host's physical memory, in whole gigabytes (at least 1).

    G1 grows the heap towards its maximum before it collects the old
    generation, so a heap sized past the machine gets the JVM killed:
    at a 48g default the kernel's OOM killer took the test suite's JVM
    at 15-16 GB resident on a 15.7 GB host."""
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, mem // 2**31)}g"


def get_spark(app_name: str = "flink_scala_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores, and the
    driver heap to ``$SPARK_GRAFT_DRIVER_MEM`` or half the host's
    physical memory.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config(map=SQL_CONFS)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", _half_memory()))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package_to_workers(spark)
    return spark


def host_stamp() -> dict:
    """Cores and memory of this host, stamped into bench artifacts so
    that timings from different machines are never compared."""
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return {"cpus": os.cpu_count(), "mem_gb": round(mem / 2**30, 1)}


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]):
    """Set ``confs`` on the session for the ``with`` block, then put
    every previous value back, unsetting the ones that were unset.

    The driver gate and the benches share one session across streaming
    and batch queries, so a conf one query needs must not leak into
    the next query's plan."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def tune_existing(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tuning to a session we did not build.

    The driver harness passes us its own SparkSession; static configs
    (master, memory) are fixed by then, but SQL confs still apply.
    """
    for k, v in SQL_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not runtime-settable in this deployment; keep going
    # the harness session keeps the 200-partition default; size the
    # initial shuffle to the actual core count (AQE coalesces from
    # there — 200 micro-partitions at test scale is pure task
    # overhead). sparkContext access itself can raise on Connect-style
    # sessions, so the probe lives inside the same tolerance guard.
    try:
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(spark.sparkContext.defaultParallelism),
        )
    except Exception:
        pass
    _ship_package_to_workers(spark)
    return spark


def _ship_package_to_workers(spark: SparkSession) -> None:
    """Make ``flink_scala_spark`` importable in Python WORKERS.

    Stateful pandas functions defined at module level (e.g.
    ``streaming.stateful._near_dup_fn``) are cloudpickled BY REFERENCE
    — the worker re-imports the module. On a cluster the package
    arrives via ``--py-files``/PYTHONPATH; the driver harness, however,
    may run from any cwd with only its own ``sys.path`` patched, which
    workers do not inherit. ``sc.environment`` mutations DO reach every
    worker spawned after the mutation (each worker request carries the
    dict — the same measured fact the TWS runtime unlock relies on), so
    prepending the repo dir here is the local-mode equivalent of
    ``--py-files``. Idempotent; tolerant of Connect-style sessions
    without ``sparkContext``."""
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        env = spark.sparkContext.environment
        prev = env.get("PYTHONPATH", "")
        if pkg_root not in prev.split(":"):
            env["PYTHONPATH"] = f"{pkg_root}:{prev}" if prev else pkg_root
    except Exception:
        pass

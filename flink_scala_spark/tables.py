"""Table loaders for the driver-generated parquet testdata.

All readers are plain ``spark.read.parquet`` — schema lives in the
files; Catalyst gets full pushdown/pruning. At cluster scale the same
call reads a partitioned directory tree; nothing here assumes local
paths beyond the ``sf_dir`` prefix.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # events.parquet stores ts as TIMESTAMP(NANOS), which Spark's
        # vectorized reader rejects; read nanos as long and convert to
        # a microsecond TimestampType (truncation matches DuckDB's
        # nanos->micros behavior, so oracles agree).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        if dict(df.dtypes).get("ts") == "bigint":
            # Integer DIV, not float /: nanos (~1.7e18) overflow a
            # double's 53-bit mantissa, which could shift micros by ±1
            # and flip a bucket boundary vs the oracle's exact math.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        return df
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def spread(df: DataFrame) -> DataFrame:
    """Ensure a heavy ROW-LOCAL pass gets scan parallelism WITHOUT an
    unconditional shuffle — the engine's one scan-parallelism helper.

    The testdata tables are ONE parquet file with ONE row group each,
    so every scan stage is a single task locally no matter what
    ``maxPartitionBytes`` says — a projection that does real per-row
    work (per-k-gram hashing, per-dim array math, Arrow scoring) then
    runs on one core. The probe reads file-listing METADATA only
    (``inputFiles``): when the scan already has at least as many
    splits as the session's parallelism — every real cluster corpus —
    this is a no-op and nothing is shuffled; only a
    fewer-files-than-cores input pays one round-robin exchange to
    unlock the cores. Fail-open: a session or plan that cannot be
    probed (Connect-style session, ``inputFiles`` raising) or a frame
    with no files behind it (in-memory, checkpointed, streaming batch)
    comes back unchanged — its parallelism is unknown, and guessing
    would add a full shuffle. Apply it ONLY where the per-row work
    measurably dominates that exchange (each call site cites its A/B);
    cheap scan->agg paths keep the plain scan.
    """
    try:
        target = df.sparkSession.sparkContext.defaultParallelism
        n_files = len(df.inputFiles())
    except Exception:
        return df
    if n_files == 0 or n_files >= target:
        return df
    return df.repartition(target)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API path."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)

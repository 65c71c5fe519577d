"""Hive-style partition layout: the write-side data-layout lever for
100 TB scans. Complements `test_bucketing.py` (bucketed joins): a table
partitioned by a low-cardinality column turns predicates on it into
directory pruning — the scan never lists, opens, or reads non-matching
partitions."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_partition_pruning_reaches_scan(spark, sf_dir, tmp_path):
    from flink_scala_spark import tables

    ev = tables.load(spark, sf_dir, "events")
    path = str(tmp_path / "events_by_type")
    ev.write.partitionBy("event_type").parquet(path)

    df = spark.read.parquet(path).where(F.col("event_type") == "error")
    plan = _plan(df)
    # the predicate must become a PartitionFilter (directory pruning),
    # NOT a row-level PushedFilter or post-scan Filter
    assert "PartitionFilters" in plan
    flat = plan.replace(" ", "")
    assert "event_type" in flat.split("PartitionFilters:", 1)[1].split("]", 1)[0]

    # pruning is observable: only the matching partition's files scanned
    expect = ev.where(F.col("event_type") == "error").count()
    assert df.count() == expect
    n_files = df.select(F.input_file_name()).distinct().count()
    all_files = spark.read.parquet(path).select(F.input_file_name()).distinct().count()
    assert n_files < all_files


def test_partitioned_write_roundtrip_schema(spark, sf_dir, tmp_path):
    """Partition columns move into the directory structure and come
    back typed on read (string partition values here)."""
    from flink_scala_spark import tables

    ev = tables.load(spark, sf_dir, "events")
    path = str(tmp_path / "events_rt")
    ev.write.partitionBy("event_type").parquet(path)
    back = spark.read.parquet(path)
    assert set(back.columns) == set(ev.columns)
    assert back.count() == ev.count()


def test_compaction_shrinks_files_and_preserves_rows(spark, tmp_path, sf_dir):
    import os

    from flink_scala_spark.operators import maintenance

    src = str(tmp_path / "fragmented")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    events.repartition(64).write.parquet(src)  # 64 tiny files
    n_small = sum(1 for f in os.listdir(src) if f.endswith(".parquet"))
    assert n_small >= 32

    dst = str(tmp_path / "compacted")
    out = maintenance.compact_parquet(spark, src, dst, target_mb=128,
                                      sort_cols=["user_id", "ts"])
    n_big = sum(1 for f in os.listdir(dst) if f.endswith(".parquet"))
    assert n_big < n_small
    assert n_big == maintenance.plan_compaction(src, 128)
    assert out.count() == events.count()
    # content identical, order-insensitive
    assert sorted(map(tuple, out.select("event_id").collect())) == sorted(
        map(tuple, events.select("event_id").collect())
    )


def test_zorder_layout_shrinks_both_column_spans(spark, sf_dir):
    """Z-order clustering must shrink per-partition min/max spans on
    BOTH dimensions simultaneously (a single-column sort only shrinks
    its own column's spans) — the property that makes parquet min/max
    pruning work for predicates on either column."""
    import pyspark.sql.functions as F

    from flink_scala_spark import tables
    from flink_scala_spark.operators.maintenance import zorder_layout

    ev = tables.load(spark, sf_dir, "events").select("user_id", "value")
    n_parts = 16

    def mean_spans(df):
        spans = (
            df.withColumn("_pid", F.spark_partition_id())
            .groupBy("_pid")
            .agg(
                (F.max("user_id") - F.min("user_id")).alias("span_u"),
                (F.max("value") - F.min("value")).alias("span_v"),
            )
            .agg(F.avg("span_u").alias("u"), F.avg("span_v").alias("v"))
            .first()
        )
        return spans["u"], spans["v"]

    base_u, base_v = mean_spans(ev.repartition(n_parts))
    z_u, z_v = mean_spans(zorder_layout(ev, "user_id", "value", n_parts))
    # both dimensions clustered: spans shrink substantially vs
    # round-robin (which leaves every partition spanning ~everything)
    assert z_u < base_u * 0.6, (z_u, base_u)
    assert z_v < base_v * 0.6, (z_v, base_v)


def test_spread_leaves_file_less_frames_alone(spark):
    """tables.spread cannot see the parallelism of a frame with no files
    behind it (in-memory, checkpointed, streaming batch), so it must
    return it unchanged — no Exchange — rather than guess a shuffle."""
    from flink_scala_spark import tables

    df = spark.createDataFrame([(i, i * 2) for i in range(100)], "a long, b long")
    out = tables.spread(df)
    assert out is df
    assert "Exchange" not in _plan(out)


def test_spread_repartitions_single_file_scan(spark, sf_dir):
    """A one-file parquet scan is a single task; on a multi-core session
    tables.spread round-robins it to defaultParallelism."""
    from flink_scala_spark import tables

    par = spark.sparkContext.defaultParallelism
    if par < 2:
        pytest.skip("needs a session with more than one core")
    emb = tables.load(spark, sf_dir, "embeddings")
    assert len(emb.inputFiles()) == 1
    out = tables.spread(emb)
    assert "RoundRobinPartitioning" in _plan(out)
    assert out.rdd.getNumPartitions() == par


# ---------------------------------------------------------------------------
# Round 12: input-size-derived streaming replay partitioning
# ---------------------------------------------------------------------------


def test_replay_partitions_derive_from_bytes(spark, tmp_path):
    """The bounded-replay partition rule (runner.replay_partitions):
    ceil(bytes / 128 MB), floored at min(4, parallelism), capped at
    the parallelism — sized for the largest side of a multi-source
    query, and inert when no replay source noted a size (socket/rate
    streams)."""
    from flink_scala_spark.streaming import order_source, runner, sources
    from flink_scala_spark.streaming.runner import replay_partitions

    mb = 1024 * 1024
    assert replay_partitions(2 * mb, 32) == 4  # floor
    assert replay_partitions(2 * mb, 2) == 2  # floor capped at par
    assert replay_partitions(300 * mb, 32) == 4  # ceil(300/128) = 3
    assert replay_partitions(600 * mb, 32) == 5  # ceil(600/128) = 5
    assert replay_partitions(1024**4, 32) == 32  # 1 TB -> par cap

    # multi-source queries size for the LARGEST side
    runner.RUNS.pop(None, None)
    small, large = tmp_path / "small.bin", tmp_path / "large.bin"
    small.write_bytes(b"x" * 1000)
    large.write_bytes(b"x" * 5000)
    sources._note_replay(str(small))
    sources._note_replay(str(large))
    sources._note_replay(str(small))
    assert runner.RUNS[None].replay_bytes == 5000

    # no replay source: the run keeps the session's shuffle partitions
    runner.RUNS.pop(None, None)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    order_source.register(spark)
    sdf = (
        spark.readStream.format("order_gen")
        .option("n", 60)
        .option("rowsPerBatch", 50)
        .load()
    )
    assert runner.run_bounded(sdf, "append").count() == 60
    rec = runner.RUNS[None]
    assert rec.partitions is None
    assert (rec.input_rows, rec.batches) == (60, 2)
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_replay_partition_conf_restored_after_bounded_run(spark, sf_dir):
    """A bounded replay run must size its own partitions from the
    bytes its source noted and then put the session value BACK — the
    driver gate and bench share one session across streaming and batch
    queries, so a leak would repartition every subsequent batch plan."""
    from flink_scala_spark.session import scoped_conf
    from flink_scala_spark.streaming import runner, sources

    runner.RUNS.pop(None, None)
    key = "spark.sql.shuffle.partitions"
    src = sources.file_replay_time_buckets(spark, sf_dir, "events", 86400)
    nbytes = runner.RUNS[None].replay_bytes
    assert nbytes > 0, "replay source must record its size"
    # a session value unlike the replay size, so a leak would show
    with scoped_conf(spark, {key: "13"}):
        out = runner.run_bounded(
            src.groupBy("event_type").count(), "complete"
        )
        assert spark.conf.get(key) == "13"
    assert out.count() > 0
    rec = runner.RUNS[None]
    assert rec.partitions == runner.replay_partitions(
        nbytes, spark.sparkContext.defaultParallelism
    )
    assert rec.replay_bytes == 0, "the run must consume its size note"
    # the conf is only set around start(); the live stream keeps it
    assert f"numPartitions = {rec.partitions}" in rec.plan

"""Live source tests: S3 socket lines and the S6 deterministic
rate-order generator (SURVEY.md §2.1).

The socket test runs a real TCP server on a loopback port feeding the
reference's word-count pipeline (StreamWordCount.scala:24-31); the rate
test runs the rate source for a few triggers and checks the seeded
projection is a pure function of the rate counter (replays are
bit-identical — the determinism the reference's random OrderSource
lacks).
"""

from __future__ import annotations

import socket
import threading
import time

import pytest
from pyspark.sql import functions as F

from flink_scala_spark.streaming import sources

LINES = [
    "hello world",
    "hello spark streaming world",
    "hello again",
]
EXPECTED = {"hello": 3, "world": 2, "spark": 1, "streaming": 1, "again": 1}


def _serve_lines(srv: socket.socket, stop: threading.Event):
    srv.listen(1)
    srv.settimeout(30)
    try:
        conn, _ = srv.accept()
    except OSError:
        return
    with conn:
        for line in LINES:
            conn.sendall((line + "\n").encode())
        # hold the connection open until the reader has drained it
        stop.wait(timeout=60)


def test_socket_word_count(spark):
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    stop = threading.Event()
    t = threading.Thread(target=_serve_lines, args=(srv, stop), daemon=True)
    t.start()

    lines = sources.socket_lines(spark, "127.0.0.1", port)
    words = lines.select(F.explode(F.split("value", " ")).alias("word")).where(
        F.col("word") != ""
    )
    agg = words.groupBy("word").agg(F.count("*").alias("cnt"))
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("socket_wc")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            got = {
                r["word"]: r["cnt"] for r in spark.table("socket_wc").collect()
            }
            if got == EXPECTED:
                break
            time.sleep(0.5)
        assert got == EXPECTED
    finally:
        stop.set()
        q.stop()
        q.awaitTermination(30)
        srv.close()


def test_rate_orders_deterministic(spark):
    """Two bounded runs of the generator must agree row-for-row on the
    seeded columns (keyed by the monotone rate counter)."""
    runs = []
    for attempt in range(2):
        df = sources.rate_orders(spark, rows_per_second=200)
        q = (
            df.writeStream.outputMode("append")
            .format("memory")
            .queryName(f"rate_orders_{attempt}")
            .start()
        )
        try:
            deadline = time.time() + 30
            while time.time() < deadline:
                n = spark.table(f"rate_orders_{attempt}").count()
                if n >= 100:
                    break
                time.sleep(0.5)
        finally:
            q.stop()
            q.awaitTermination(30)
        rows = (
            spark.table(f"rate_orders_{attempt}")
            .where(F.col("order_seq") < 100)
            .select("order_seq", "order_id", "user_id", "province", "money")
            .orderBy("order_seq")
            .collect()
        )
        runs.append([tuple(r) for r in rows])
    assert len(runs[0]) == 100
    assert runs[0] == runs[1]

    # money stays in the reference's [10, 11) band (OrderAnalysy.scala:352)
    for _, _, _, province, money in runs[0]:
        assert 10 <= float(money) < 11
        assert province in sources.PROVINCES


def test_order_gen_python_datasource_batch(spark):
    """S6 as a Spark 4 Python Data Source: deterministic, partitioned
    batch generation (OrderAnalysy.scala:338-362, made reproducible)."""
    from flink_scala_spark.streaming import order_source

    order_source.register(spark)
    df = spark.read.format("order_gen").option("n", 500).option("numPartitions", 8).load()
    assert df.rdd.getNumPartitions() == 8
    rows = df.orderBy("pay_time").collect()
    assert len(rows) == 500
    # deterministic: a second read produces the identical frame
    again = (
        spark.read.format("order_gen").option("n", 500).option("numPartitions", 3)
        .load().orderBy("pay_time").collect()
    )
    assert rows == again  # partitioning must not change content
    assert rows[0]["pay_time"] == order_source.T0_MILLIS
    assert all(r["province"] in order_source.PROVINCES for r in rows[:20])


def test_order_gen_python_datasource_stream(spark):
    """The streaming reader: offsets advance by rowsPerBatch and the
    emitted prefix is exactly the deterministic sequence."""
    import time

    from flink_scala_spark.streaming import order_source

    order_source.register(spark)
    sdf = spark.readStream.format("order_gen").option("rowsPerBatch", 20).load()
    q = (
        sdf.writeStream.format("memory").queryName("order_gen_t")
        .outputMode("append").trigger(processingTime="1 seconds").start()
    )
    try:
        deadline = time.time() + 30
        while spark.table("order_gen_t").count() < 40 and time.time() < deadline:
            time.sleep(1)
    finally:
        q.stop()
    got = spark.table("order_gen_t").orderBy("pay_time").collect()
    assert len(got) >= 40
    expect = [order_source.order_row(k) for k in range(len(got))]
    assert [tuple(r) for r in got] == expect


def test_order_gen_stream_exhausts_at_n(spark):
    """The stream reader must honor the same ``n`` bound as the batch
    reader (the reference source emits a bounded order book and
    terminates): processAllAvailable returns once offsets reach n,
    with exactly n distinct orders emitted."""
    from flink_scala_spark.streaming import order_source
    from flink_scala_spark.streaming.runner import run_bounded

    order_source.register(spark)
    sdf = (
        spark.readStream.format("order_gen")
        .option("n", 130)
        .option("rowsPerBatch", 50)
        .load()
    )
    got = run_bounded(sdf, "append")
    assert got.count() == 130
    assert got.select("order_id").distinct().count() == 130


def test_bounded_runs_leave_no_memory_sink_views(spark):
    """Each bounded run's memory-sink view is dropped once its result
    frame is built, so a long-lived driver does not keep the sink rows
    of every run; the returned frames still collect."""
    from flink_scala_spark.streaming import order_source
    from flink_scala_spark.streaming.runner import run_bounded

    order_source.register(spark)

    def orders(n):
        return (
            spark.readStream.format("order_gen")
            .option("n", n)
            .option("rowsPerBatch", 50)
            .load()
        )

    a = run_bounded(orders(60), "append")
    b = run_bounded(orders(80), "append")
    views = [t.name for t in spark.catalog.listTables() if t.name.startswith("fss_q")]
    assert views == []
    assert len(a.collect()) == 60
    assert len(b.collect()) == 80

"""Sink-layer tests: exactly-once upsert semantics (K6) and the
foreach client-sink guard (K3/K4)."""

from __future__ import annotations

import os

import duckdb
import pytest

from flink_scala_spark.streaming.sinks import DuckDBUpsertWriter, client_foreach_sink


@pytest.fixture()
def db_path(tmp_path):
    return str(tmp_path / "sink.duckdb")


DDL = (
    "CREATE TABLE IF NOT EXISTS order_totals("
    "order_day INT, total_num BIGINT, total_money DOUBLE, "
    "PRIMARY KEY (order_day))"
)


def _writer(db_path):
    return DuckDBUpsertWriter(
        db_path=db_path,
        table="order_totals",
        key_cols=["order_day"],
        add_cols=["total_num", "total_money"],
        ddl=DDL,
    )


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "order_day int, total_num long, total_money double"
    )


def test_upsert_accumulates(spark, db_path):
    w = _writer(db_path)
    w(_batch(spark, [(20240101, 2, 10.0)]), batch_id=0)
    w(_batch(spark, [(20240101, 3, 5.0), (20240102, 1, 7.5)]), batch_id=1)
    con = duckdb.connect(db_path)
    rows = dict(
        (d, (n, m))
        for d, n, m in con.execute(
            "SELECT order_day, total_num, total_money FROM order_totals ORDER BY 1"
        ).fetchall()
    )
    assert rows == {20240101: (5, 15.0), 20240102: (1, 7.5)}


def test_upsert_exactly_once_on_replay(spark, db_path):
    """Replaying a committed batch_id (Spark's failure-retry contract)
    must not double-accumulate — the OrderMysqlSink idempotency
    (OrderAnalysy.scala:215-273) via batch markers."""
    w = _writer(db_path)
    w(_batch(spark, [(20240101, 2, 10.0)]), batch_id=0)
    w(_batch(spark, [(20240101, 2, 10.0)]), batch_id=0)  # replay
    con = duckdb.connect(db_path)
    (n, m) = con.execute(
        "SELECT total_num, total_money FROM order_totals WHERE order_day = 20240101"
    ).fetchone()
    assert (n, m) == (2, 10.0)


def test_client_sink_requires_factory():
    with pytest.raises(NotImplementedError):
        client_foreach_sink(lambda client, rows: None, client_factory=None)


def test_jsonl_datasource_batch_write_commits_manifest(spark, tmp_path):
    from flink_scala_spark.streaming import jsonl_sink

    jsonl_sink.register(spark)
    df = spark.range(100).selectExpr("id", "id * 2 AS doubled")
    out = str(tmp_path / "out")
    df.write.format("jsonl_sink").option("path", out).mode("append").save()
    back = jsonl_sink.read_committed(spark, out)
    assert back.count() == 100
    assert sorted(r["doubled"] for r in back.collect()) == [2 * i for i in range(100)]


def test_jsonl_datasource_stream_write_per_batch_manifests(spark, tmp_path, sf_dir):
    import os

    from flink_scala_spark.streaming import jsonl_sink, sources

    jsonl_sink.register(spark)
    out = str(tmp_path / "stream_out")
    ev = sources.file_replay(spark, sf_dir, "events").select("event_id", "user_id")
    q = (
        ev.writeStream.format("jsonl_sink")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
    manifests = [f for f in os.listdir(out) if f.startswith("_committed-")]
    assert manifests, os.listdir(out)
    back = jsonl_sink.read_committed(spark, out)
    expected = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert back.count() == expected


def test_jsonl_datasource_abort_leaves_no_manifest(spark, tmp_path):
    import os

    import pyspark.sql.functions as F
    from flink_scala_spark.streaming import jsonl_sink

    jsonl_sink.register(spark)
    out = str(tmp_path / "aborted")
    df = spark.range(10).select(
        F.assert_true(F.col("id") < 5, F.lit("boom")).alias("chk"), "id"
    )
    try:
        df.write.format("jsonl_sink").option("path", out).mode("append").save()
        raise AssertionError("write should have failed")
    except Exception:
        pass
    manifests = [f for f in os.listdir(out) if f.startswith("_committed-")] if os.path.isdir(out) else []
    assert manifests == []
    assert jsonl_sink.read_committed(spark, out) is None or not os.path.isdir(out)


def test_client_sink_per_partition_lifecycle_and_idempotent_replay(spark, tmp_path):
    """The K3/K4 foreachBatch shape must honor the RichSinkFunction
    contract (RedisSinkTest.scala:29-53, EsSinkTest.scala:35-54): one
    client per partition, open -> writes -> close in order (close even
    though the partition is drained), and deterministic keyed SETs so
    a replayed batch leaves the store byte-identical.

    The fake client journals open/write/close to a shared directory —
    the only channel executor worker PROCESSES have back to the test —
    and is defined inside the factory closure so cloudpickle ships it
    by value."""
    from flink_scala_spark.streaming.sinks import client_foreach_sink

    store = str(tmp_path / "kv")
    os.makedirs(store)

    def factory(store=store):
        import os as _os
        import uuid as _uuid

        class RecordingKV:
            def __init__(self, store_dir):
                self.store_dir = store_dir
                self.log_path = _os.path.join(
                    store_dir, f"_log-{_uuid.uuid4().hex}"
                )
                self._log = open(self.log_path, "w")
                self._log.write("open\n")
                self.closed = False

            def set(self, key, value):
                assert not self.closed, "write after close"
                with open(_os.path.join(self.store_dir, f"k-{key}"), "w") as f:
                    f.write(str(value))
                self._log.write(f"write:{key}\n")

            def close(self):
                self._log.write("close\n")
                self._log.close()
                self.closed = True

        return RecordingKV(store)

    def write_partition(client, rows):
        for row in rows:
            client.set(row["k"], row["v"])

    sink = client_foreach_sink(write_partition, client_factory=factory)
    df = spark.createDataFrame(
        [(f"key{i}", i * 10) for i in range(20)], "k string, v long"
    ).repartition(4)
    sink(df, batch_id=0)

    logs = sorted(f for f in os.listdir(store) if f.startswith("_log-"))
    assert len(logs) == 4  # one client per partition
    writes = 0
    for log in logs:
        lines = open(os.path.join(store, log)).read().splitlines()
        assert lines[0] == "open" and lines[-1] == "close"
        assert all(ln.startswith("write:") for ln in lines[1:-1])
        writes += len(lines) - 2
    assert writes == 20

    def snapshot():
        return {
            f: open(os.path.join(store, f)).read()
            for f in os.listdir(store)
            if f.startswith("k-")
        }

    before = snapshot()
    assert len(before) == 20 and before["k-key3"] == "30"
    sink(df, batch_id=0)  # replayed microbatch
    assert snapshot() == before  # keyed SETs make the replay a no-op


def test_kafka_reader_and_writer_option_contract():
    """Broker-free pin of the S5/K2 configuration: startingTimestamp
    mirrors Flink's setStartFromTimestamp (SourceFromKafka.scala:26-27)
    and is mutually exclusive with startingOffsets; bootstrap/subscribe/
    topic propagate exactly."""
    from flink_scala_spark.streaming.sinks import kafka_writer_options
    from flink_scala_spark.streaming.sources import kafka_reader_options

    by_offsets = kafka_reader_options("orders", bootstrap="broker:9092")
    assert by_offsets == {
        "kafka.bootstrap.servers": "broker:9092",
        "subscribe": "orders",
        "startingOffsets": "earliest",
    }
    by_ts = kafka_reader_options(
        "orders", starting_offsets="latest", starting_timestamp_ms=1_700_000_000_000
    )
    assert by_ts["startingTimestamp"] == "1700000000000"
    assert "startingOffsets" not in by_ts  # timestamp start wins, like the reference

    assert kafka_writer_options("out-topic", "b:9092") == {
        "kafka.bootstrap.servers": "b:9092",
        "topic": "out-topic",
    }


def test_multimodal_real_decode_when_pillow_present(spark):
    """Exercises the real pillow decode slot end-to-end when the
    dependency exists (skipped on bare containers; the fake decoder
    remains the oracle path either way)."""
    from flink_scala_spark.pipeline import multimodal

    if not multimodal.real_decode_available():
        pytest.skip("pillow not installed; real decode slot gated off")
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (17, 9)).save(buf, format="PNG")
    png = buf.getvalue()
    assets = spark.createDataFrame([(1, bytearray(png))], "doc_id long, payload binary")
    row = multimodal.extract_features(assets, decoder="real").collect()[0]
    assert (row["width"], row["height"]) == (17, 9)
    assert row["n_bytes"] == len(png)
    assert row["header_hex"] == png[:4].hex().upper()


def test_jsonl_batch_appends_accumulate_and_overwrite_supersedes(spark, tmp_path):
    """Two append-mode saves must BOTH stay visible to the manifest-
    honoring reader (a fixed manifest tag used to silently supersede
    the first save); mode('overwrite') must supersede prior commits
    AND remove their now-unreferenced data files."""
    import os

    from flink_scala_spark.streaming import jsonl_sink

    jsonl_sink.register(spark)
    out = str(tmp_path / "out")
    spark.range(10).write.format("jsonl_sink").option("path", out).mode(
        "append"
    ).save()
    spark.range(10, 30).write.format("jsonl_sink").option("path", out).mode(
        "append"
    ).save()
    back = jsonl_sink.read_committed(spark, out)
    assert sorted(r["id"] for r in back.collect()) == list(range(30))

    spark.range(100, 105).write.format("jsonl_sink").option("path", out).mode(
        "overwrite"
    ).save()
    back = jsonl_sink.read_committed(spark, out)
    assert sorted(r["id"] for r in back.collect()) == list(range(100, 105))
    # superseded data files are gone, no tmp manifests linger
    leftover = [
        f for f in os.listdir(out)
        if f.endswith(".jsonl") or f.startswith(".manifest-tmp")
    ]
    committed = [f for f in os.listdir(out) if f.startswith("_committed-")]
    assert len(committed) == 1
    total_listed = sum(
        len(__import__("json").load(open(os.path.join(out, m)))["files"])
        for m in committed
    )
    assert len(leftover) == total_listed  # only referenced part files remain

"""Concurrent query execution on ONE SparkSession.

A real deployment multiplexes many queries over a shared session
(thread pools, notebook users, schedulers). Results must not depend on
what else is running: no shared mutable state inside operator builders,
no temp-view name collisions, no cross-query config bleed. This runs a
diverse slice of the catalog — scans, aggs, a bounded STREAMING query,
the binned range join — from worker threads simultaneously and checks
every result equals its serial run.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from flink_scala_spark.queries.catalog import QUERIES

NAMES = [
    "word_count",
    "keyed_sum",
    "dedup_exact",
    "value_histogram",
    "range_join_binned",
    "streaming_word_count",
]


def _run(spark, sf_dir, name):
    rows = QUERIES[name].fn(spark, sf_dir).collect()
    return sorted(tuple(r) for r in rows)


def test_concurrent_queries_match_serial(spark, sf_dir):
    serial = {n: _run(spark, sf_dir, n) for n in NAMES}
    with ThreadPoolExecutor(max_workers=len(NAMES)) as pool:
        futures = {n: pool.submit(_run, spark, sf_dir, n) for n in NAMES}
        concurrent = {n: f.result(timeout=600) for n, f in futures.items()}
    for n in NAMES:
        assert concurrent[n] == serial[n], n


def test_overlapping_bounded_runs_keep_session_shuffle_conf(
    spark, sf_dir, monkeypatch
):
    """Two bounded replays that overlap on one session leave its
    spark.sql.shuffle.partitions as it was. Each run sizes its shuffle
    from its replay bytes; the stream keeps the partitioning it started
    with, so the temporary value may only be set around start(). The
    runs are interleaved deterministically: the first run waits inside
    processAllAvailable until the second is processing, and the second
    waits there until the first has returned, so the second run starts
    while the first is live and finishes last."""
    import threading
    import time

    from pyspark.sql.streaming.query import StreamingQuery

    from flink_scala_spark.queries import catalog

    first, second = "streaming_keyed_sum", "streaming_word_count"
    key = "spark.sql.shuffle.partitions"
    second_live = threading.Event()
    first_done = threading.Event()
    process = StreamingQuery.processAllAvailable

    def ordered_process(q):
        out = process(q)
        if catalog.current_query() == first:
            assert second_live.wait(120), "second run never started"
        elif catalog.current_query() == second:
            second_live.set()
            assert first_done.wait(120), "first run never returned"
        return out

    def run_first():
        try:
            return _run(spark, sf_dir, first)
        finally:
            first_done.set()

    serial = {n: _run(spark, sf_dir, n) for n in (first, second)}
    prev = spark.conf.get(key)
    spark.conf.set(key, "13")
    monkeypatch.setattr(StreamingQuery, "processAllAvailable", ordered_process)
    try:
        with ThreadPoolExecutor(max_workers=2) as pool:
            f1 = pool.submit(run_first)
            deadline = time.time() + 120
            while not spark.streams.active and not f1.done():
                assert time.time() < deadline, "first run never started"
                time.sleep(0.01)
            f2 = pool.submit(_run, spark, sf_dir, second)
            got = {first: f1.result(timeout=600), second: f2.result(timeout=600)}
        assert spark.conf.get(key) == "13"
    finally:
        spark.conf.set(key, prev)
    assert got == serial


def test_overlapping_tws_runs_keep_session_state_store_provider(
    spark, tmp_path, monkeypatch
):
    """Two transformWithState runs that overlap on one session leave its
    state-store provider as it was. TWS needs the RocksDB provider, and
    a query fixes its provider when it starts, so the runner sets it
    only around start(). The runs are interleaved as in the shuffle-conf
    test above: the first run waits after its query ends until the
    second has finished its own, and the second then waits until the
    first has returned, so the second run starts while the first is
    still inside its builder, and finishes last."""
    import threading
    from datetime import datetime, timedelta

    import pytest
    from pyspark.sql.streaming.query import StreamingQuery
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    from flink_scala_spark.streaming.runner import run_bounded_now
    from flink_scala_spark.streaming.tws import (
        PROVIDER_CONF,
        protobuf_pythonpath,
        rising_alarm_tws,
    )

    if protobuf_pythonpath() is None:
        pytest.skip("no protobuf runtime for TWS workers")
    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
        ]
    )
    t0 = datetime(2024, 1, 1)
    rows = [(1, i, t0 + timedelta(seconds=10 * i), float(i)) for i in range(4)]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(tmp_path / "ev"))

    first_waiting = threading.Event()
    second_live = threading.Event()
    first_done = threading.Event()
    await_termination = StreamingQuery.awaitTermination

    def ordered_await(q, timeout=None):
        out = await_termination(q, timeout)
        if timeout == 30:  # the runner's wait after stop()
            return out
        if not first_waiting.is_set():
            first_waiting.set()
            assert second_live.wait(120), "second run never started"
        else:
            second_live.set()
            assert first_done.wait(120), "first run never returned"
        return out

    def run():
        stream = spark.readStream.schema(schema).parquet(str(tmp_path / "ev"))
        out = run_bounded_now(rising_alarm_tws(stream, horizon_seconds=5))
        return sorted(tuple(r) for r in out.collect())

    def run_first():
        try:
            return run()
        finally:
            first_done.set()

    prev = spark.conf.get(PROVIDER_CONF, None)
    monkeypatch.setattr(StreamingQuery, "awaitTermination", ordered_await)
    with ThreadPoolExecutor(max_workers=2) as pool:
        f1 = pool.submit(run_first)
        assert first_waiting.wait(120) or f1.done(), "first run never started"
        f2 = pool.submit(run)
        got = [f1.result(timeout=600), f2.result(timeout=600)]
    assert spark.conf.get(PROVIDER_CONF, None) == prev
    assert got[0] == got[1]


def test_worker_package_import_from_foreign_cwd(tmp_path, sf_dir):
    """The driver harness may run from ANY cwd with only its own
    sys.path patched; Python workers un-pickle module-level stateful
    functions BY REFERENCE and must still import flink_scala_spark.
    tune_existing ships the repo dir via sc.environment (the local-mode
    --py-files equivalent) — without it this subprocess dies with
    ModuleNotFoundError in the worker (caught live in round 5)."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import sys; sys.path.insert(0, %r)\n"
        "from pyspark.sql import SparkSession\n"
        "spark = SparkSession.builder.master('local[2]').getOrCreate()\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        "import __spark_entry__ as se\n"
        "rows = se.queries()['streaming_dedup_minhash'](spark, %r).collect()\n"
        "assert len(rows) > 0, 'no rows'\n"
        "print('WORKER_IMPORT_OK', len(rows))\n" % (repo, sf_dir)
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "WORKER_IMPORT_OK" in proc.stdout


def test_stage_once_concurrent_racers_see_absent_or_complete(tmp_path):
    """Two threads staging the same path with a deliberately SLOW
    writer: the destination must only ever be observed absent or
    complete (the write-temp-then-rename contract), both racers must
    return the same path, and no .tmp-* sibling may survive."""
    import os
    import threading
    import time

    from flink_scala_spark.operators import maintenance

    path = str(tmp_path / "store")
    barrier = threading.Barrier(2)
    observed = []

    def slow_write(tmp):
        os.makedirs(tmp)
        with open(os.path.join(tmp, "part-0"), "w") as f:
            f.write("half")
            f.flush()
            time.sleep(0.3)  # a racer checking now must NOT see `path`
            observed.append(os.path.isdir(path))
            f.write("+rest")

    def race():
        barrier.wait()
        maintenance.stage_once(path, slow_write)

    threads = [threading.Thread(target=race) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(30)
    assert os.path.isdir(path)
    with open(os.path.join(path, "part-0")) as f:
        assert f.read() == "half+rest"  # complete, never half-staged
    # mid-write observations from the loser's own slow write: the
    # destination may already exist (winner renamed) but a half-written
    # dir must never BE the destination — proven by the content check
    assert not [
        d for d in os.listdir(tmp_path) if d.startswith("store.tmp-")
    ], "orphaned temp dirs must be cleaned when the rename loses"


def test_concurrent_versioned_exporters_claim_distinct_versions(
    spark, tmp_path
):
    """Two exporters appending to the same versioned export at once:
    O_EXCL manifest claims must hand each a DISTINCT version, each
    manifest must list only files under its own snap-* directory, and
    both snapshots must read back exactly (no cross-claimed files)."""
    import threading

    from flink_scala_spark.pipeline import export

    out = str(tmp_path / "exp")
    corpora = {
        "a": [(i, f"doc a {i}", "train") for i in range(30)],
        "b": [(i, f"doc b {i}", "train") for i in range(100, 150)],
    }
    manifests = {}
    barrier = threading.Barrier(2)

    def run(tag):
        df = spark.createDataFrame(
            corpora[tag], "doc_id long, text string, split string"
        )
        barrier.wait()
        manifests[tag] = export.export_versioned(spark, df, out)

    threads = [threading.Thread(target=run, args=(t,)) for t in corpora]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
    va, vb = manifests["a"]["version"], manifests["b"]["version"]
    assert {va, vb} == {1, 2}
    for tag, m in manifests.items():
        assert m["files"], tag
        assert all(f.startswith(m["base"] + "/") for f in m["files"]), m
        rows = export.read_snapshot(spark, out, m["version"]).collect()
        assert {r["doc_id"] for r in rows} == {
            i for i, _, _ in corpora[tag]
        }, tag


def test_stage_once_reraises_non_racer_rename_failures(tmp_path):
    """A rename that fails for a reason OTHER than a racer having
    staged the directory (here: the destination exists as a regular
    FILE) must re-raise instead of silently discarding the staged copy
    and returning a path that is not a directory."""
    import os

    import pytest

    from flink_scala_spark.operators import maintenance

    path = str(tmp_path / "store")
    with open(path, "w") as f:
        f.write("not a directory")

    def write(tmp):
        os.makedirs(tmp)
        with open(os.path.join(tmp, "part-0"), "w") as f:
            f.write("data")

    with pytest.raises(OSError):
        maintenance.stage_once(path, write)


def test_compare_bench_recovers_streaming_wrapper_tails(tmp_path):
    """The driver wrapper fallback must recover name->sec from a
    TRUNCATED bench_streaming-format tail (nested per-query dicts)
    instead of harvesting the inner metric keys as query names, and
    still parse flat bench.py-format tails."""
    import json
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    try:
        from compare_bench import load_timings
    finally:
        sys.path.pop(0)

    stream_tail = (
        '{"metric": "streaming_replay_total_time", "value": 39.5, '
        '"queries": {"streaming_word_count": {"sec": 1.25, '
        '"input_rows": 6005, "rows_per_sec": 4804.0, "batches": 3, '
        '"out_rows": 31}, "streaming_keyed_sum": {"sec": 2.5, '
        '"input_rows": 6005, "rows_per'  # truncated mid-key
    )
    p = tmp_path / "stream.json"
    p.write_text(json.dumps({"parsed": None, "tail": stream_tail}))
    got = load_timings(str(p))
    assert got == {"streaming_word_count": 1.25, "streaming_keyed_sum": 2.5}

    flat_tail = (
        '{"metric": "headline_queries_total_time", "value": 44.0, '
        '"queries": {"word_count": 0.3, "keyed_sum": 0.22, "runn'
    )
    p2 = tmp_path / "flat.json"
    p2.write_text(json.dumps({"parsed": None, "tail": flat_tail}))
    assert load_timings(str(p2)) == {"word_count": 0.3, "keyed_sum": 0.22}


def test_compare_bench_refuses_cross_host_pairs(tmp_path, monkeypatch, capsys):
    """Artifacts stamped with different hosts are refused like
    cross-scale pairs; an unstamped artifact only warns."""
    import json
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    try:
        import compare_bench
    finally:
        sys.path.pop(0)

    def artifact(name, host):
        doc = {"queries": {"word_count": 1.0}, "sf": 0.01}
        if host:
            doc["host"] = host
        p = tmp_path / name
        p.write_text(json.dumps(doc))
        return str(p)

    small = artifact("a.json", {"cpus": 4, "mem_gb": 15.7})
    big = artifact("b.json", {"cpus": 32, "mem_gb": 125.8})
    same = artifact("c.json", {"cpus": 4, "mem_gb": 15.7})
    bare = artifact("d.json", None)

    def run(a, b):
        monkeypatch.setattr(sys, "argv", ["compare_bench.py", a, b])
        return compare_bench.main(), capsys.readouterr().out

    code, out = run(small, big)
    assert code == 2 and "REFUSING cross-host" in out
    code, out = run(small, same)
    assert code == 0 and "REFUSING" not in out and "host stamp" not in out
    code, out = run(small, bare)
    assert code == 0 and "no host stamp" in out

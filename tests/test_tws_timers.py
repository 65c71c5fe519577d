"""ST4 on the FIRST-CLASS Spark 4 timer API (transformWithStateInPandas).

The applyInPandasWithState emulation (streaming/stateful.py) is the
driver-gate path; this test proves the direct Flink-timer equivalent —
registerTimer / deleteTimer / handleExpiredTimer
(ProcessAlarmTest.scala:76-108) — actually runs end-to-end whenever a
protobuf runtime is present (the TWS Python worker requires it; the
sandbox vendors one inside the Google Cloud SDK, see streaming/tws.py).

Runs in the shared test session: the TWS stream constructors unlock
the runtime in-session before they create the UDF, and the RocksDB
state store provider TWS needs is set around each query's start only
(by the bounded runner, or by ``_start`` for the tests that start their
own writer), so nothing leaks into the session.
"""

from __future__ import annotations

import os
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from flink_scala_spark.session import scoped_conf
from flink_scala_spark.streaming import tws
from flink_scala_spark.streaming.runner import run_bounded_now

pytestmark = pytest.mark.skipif(
    tws.protobuf_pythonpath() is None,
    reason="no protobuf runtime available for the TWS worker",
)

#: (event_id, ts, user_id, value) with ts in epoch seconds
EVENTS = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("value", DoubleType()),
    ]
)


def _write_batches(d, *batches):
    """Write each batch of row dicts as the next JSON file of ``d``.

    FileStreamSource orders files by modification time; writes within
    the same clock tick TIE, and a tie replays b2 before b1 — whose
    rows then sit below the watermark and are DROPPED (reproduced
    under co-load: timers fired with batch-1 state). So mtimes strictly
    increase, exactly like streaming/sources.py's replay layout."""
    now = time.time()
    for i, rows in enumerate(batches, start=len(os.listdir(d))):
        path = os.path.join(d, f"b{i}.json")
        pd.DataFrame(rows).to_json(path, orient="records", lines=True)
        os.utime(path, (now + i, now + i))


def _event_batches(*batches):
    """(ts, user, value) tuples -> row dicts numbered within a batch."""
    return [
        [
            {"event_id": j, "ts": ts, "user_id": u, "value": v}
            for j, (ts, u, v) in enumerate(batch)
        ]
        for batch in batches
    ]


def _replay(spark, d, schema=EVENTS):
    """One file per microbatch, so the watermark advances BETWEEN
    batches and event-time timers fire."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(d))
        .withColumn("ts", F.timestamp_seconds("ts"))
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _start(spark, writer):
    """Start ``writer`` with the RocksDB provider TWS needs, set around
    ``start()`` only: a query fixes its provider when it starts."""
    with scoped_conf(spark, {tws.PROVIDER_CONF: tws.ROCKSDB_PROVIDER}):
        return writer.start()


def _run_checkpointed(stream, ckpt, output_mode):
    """One availableNow run of ``stream`` on checkpoint ``ckpt``. The
    memory sink refuses checkpoint recovery; foreachBatch is the
    recoverable collection path."""
    collected = []
    writer = (
        stream.writeStream.foreachBatch(
            lambda batch_df, _: collected.extend(tuple(r) for r in batch_df.collect())
        )
        .outputMode(output_mode)
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
    )
    q = _start(stream.sparkSession, writer)
    try:
        assert q.awaitTermination(540), "streaming query did not finish in 540s"
    finally:
        q.stop()
    return sorted(collected)


def test_constructors_unlock_the_runtime(spark, monkeypatch):
    """Every TWS stream constructor unlocks the runtime on its stream's
    session before it creates the UDF: a UDF keeps the environment of
    the moment it is created, so a later unlock would not reach its
    worker."""
    calls = []
    monkeypatch.setattr(tws, "ensure_tws_runtime", calls.append)
    rate = spark.readStream.format("rate").load()
    src = rate.select(
        F.col("value").alias("user_id"),
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        F.col("value").cast("double").alias("value"),
        F.lit("view").alias("event_type"),
        F.lit("order").alias("side"),
    )
    for build in (
        lambda s: tws.rising_alarm_tws(s, 60),
        tws.session_summary_tws,
        lambda s: tws.session_gap_tws(s, 60),
        lambda s: tws.fire_purge_tws(s, 100, 3, 0.5),
        lambda s: tws.two_stream_reconcile_tws(s, 200),
        lambda s: tws.rising_alarm_ptime_tws(s, 2),
    ):
        calls.clear()
        build(src)
        assert calls == [src.sparkSession]


def test_rising_alarm_first_class_timers(spark, tmp_path):
    # Three keys, HORIZON=60s. Batch time ranges are strictly increasing
    # (B1 <= 170 < 180 <= B2 < 1000 = B3) because event-time TWS drops
    # input rows at-or-behind the watermark (ts <= wm, measured: a ts=0
    # row dies against the INITIAL watermark of 0), so nothing sits at
    # a batch boundary or at zero.
    #  - user 1 rises with no fall: timer at streak_start+60=170 fires
    #    once the watermark passes it.
    #  - user 2 rises at 110 (timer at 170) but FALLS at 150 inside the
    #    same batch -> deleteTimer -> that timer never fires; the second
    #    streak (from 160) registers a timer at 220 and survives -> fires.
    #  - user 3 is the watermark driver: a final far-future row pushes
    #    the global watermark past every pending expiry; its own lone
    #    rise at ts=1000 registers a timer past the final watermark
    #    (never fires).
    b1 = [  # ts, user, value
        (100, 1, 1.0), (110, 1, 2.0), (120, 1, 3.0), (130, 1, 4.0),
        (100, 2, 5.0), (110, 2, 6.0), (140, 2, 7.0), (150, 2, 1.0),
        (160, 2, 2.0), (170, 2, 3.0),
        (100, 3, 0.0), (170, 3, 0.0),
    ]
    b2 = [
        (180, 1, 5.0), (190, 1, 6.0),
        (180, 2, 4.0), (220, 2, 5.0), (230, 2, 6.0),
        (190, 3, 0.0),
    ]
    b3 = [(1000, 3, 1.0)]  # flush: watermark -> 999
    _write_batches(tmp_path, *_event_batches(b1, b2, b3))
    got = _rows(
        run_bounded_now(tws.rising_alarm_tws(_replay(spark, tmp_path), 60))
    )
    # Watermark before batch 3 = 230 - 1 = 229, so both surviving
    # timers fire there with the streak state as of batch 2:
    # user 1: first rise at ts=110 -> timer at 170; rises at
    #   110,120,130,180,190 -> n_rising=5.
    # user 2: the ts=150 fall DELETED the first timer (at 170); the
    #   second streak starts at 160 -> timer at 220; rises at
    #   160,170,180,220,230 -> n_rising=5.
    # user 3: flat then a lone rise at ts=1000 -> its timer (1060)
    #   is past the final watermark and legitimately never fires.
    assert got == [(1, 110, 170, 5), (2, 160, 220, 5)]


def test_list_and_map_state_kinds(spark, tmp_path):
    """ListState + MapState on the first-class API: user 1 sees 3
    views + 1 buy (map: {view:3, buy:1}), last-3 values 2,3,4; user 2
    one buy."""
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_types", LongType()),
            StructField("max_type_cnt", LongType()),
            StructField("last3_sum", DoubleType()),
        ]
    )

    class SessionSummary(StatefulProcessor):
        """ListState (rolling last-3 values) + MapState (per-type
        counts) — the remaining first-class state kinds beyond
        ValueState."""

        def init(self, handle: StatefulProcessorHandle):
            self.recent = handle.getListState(
                "recent", StructType([StructField("v", DoubleType())])
            )
            self.counts = handle.getMapState(
                "counts",
                StructType([StructField("t", StringType())]),
                StructType([StructField("n", LongType())]),
            )

        def handleInputRows(self, key, rows, timerValues):
            pdf = pd.concat(list(rows), ignore_index=True)
            pdf = pdf.sort_values(["event_id"])
            for t, v in zip(pdf["etype"], pdf["value"]):
                n = (
                    self.counts.getValue((t,))[0]
                    if self.counts.containsKey((t,))
                    else 0
                )
                self.counts.updateValue((t,), (n + 1,))
                vals = [r[0] for r in self.recent.get()] + [float(v)]
                self.recent.put([(x,) for x in vals[-3:]])
            n_types, max_cnt = 0, 0
            for _, val in self.counts.iterator():
                n_types += 1
                max_cnt = max(max_cnt, val[0])
            last3 = sum(r[0] for r in self.recent.get())
            yield pd.DataFrame(
                {
                    "user_id": [int(key[0])],
                    "n_types": [n_types],
                    "max_type_cnt": [max_cnt],
                    "last3_sum": [round(last3, 2)],
                }
            )

        def close(self):
            pass

    _write_batches(
        tmp_path,
        [
            {"event_id": 0, "user_id": 1, "etype": "view", "value": 1.0},
            {"event_id": 1, "user_id": 1, "etype": "view", "value": 2.0},
            {"event_id": 2, "user_id": 1, "etype": "buy", "value": 3.0},
            {"event_id": 3, "user_id": 1, "etype": "view", "value": 4.0},
            {"event_id": 4, "user_id": 2, "etype": "buy", "value": 5.0},
        ],
    )
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("etype", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    src = spark.readStream.schema(schema).json(str(tmp_path))
    out = tws._by_user(src, SessionSummary(), out_schema, "Append", "None")
    assert _rows(run_bounded_now(out)) == [(1, 2, 3, 9.0), (2, 1, 1, 5.0)]


def test_tws_state_survives_checkpoint_restart(spark, tmp_path):
    """F1-F6 on the first-class API: a second query started on the
    same checkpoint must (a) resume the ValueState — user 1's count
    continues at 3, not 1 — and (b) skip the already-consumed input —
    user 2 produces NO row in the second run."""
    out_schema = StructType(
        [StructField("user_id", LongType()), StructField("cnt", LongType())]
    )

    class RunningCount(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle):
            self.cnt = handle.getValueState(
                "cnt", StructType([StructField("n", LongType())])
            )

        def handleInputRows(self, key, rows, timerValues):
            n = self.cnt.get()[0] if self.cnt.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self.cnt.update((n,))
            yield pd.DataFrame({"user_id": [int(key[0])], "cnt": [n]})

        def close(self):
            pass

    schema = StructType(
        [StructField("user_id", LongType()), StructField("v", DoubleType())]
    )
    src_dir, ckpt = tmp_path / "src", tmp_path / "ckpt"
    src_dir.mkdir()

    def run():
        src = spark.readStream.schema(schema).json(str(src_dir))
        out = tws._by_user(src, RunningCount(), out_schema, "Update", "None")
        return _run_checkpointed(out, ckpt, "update")

    _write_batches(
        src_dir,
        [{"user_id": 1, "v": 1.0}, {"user_id": 1, "v": 2.0}, {"user_id": 2, "v": 3.0}],
    )
    assert run() == [(1, 2), (2, 1)]
    _write_batches(src_dir, [{"user_id": 1, "v": 4.0}, {"user_id": 3, "v": 5.0}])
    assert run() == [(1, 3), (3, 1)]


def test_tws_gate_query_is_repeatable_in_one_session(spark, sf_dir):
    """The driver may invoke a catalog entry more than once on the
    same session (smoke + gate). The TWS queries mutate session state
    (ensure_tws_runtime, provider conf, replay tempdirs, memory-sink
    names) — a second invocation must return the identical result and
    leave the provider conf restored."""
    from flink_scala_spark.queries.catalog import QUERIES

    fn = QUERIES["streaming_rising_alarm_tws"].fn
    r1 = _rows(fn(spark, sf_dir))
    r2 = _rows(fn(spark, sf_dir))
    assert r1 == r2 and len(r1) > 0
    assert spark.conf.get(tws.PROVIDER_CONF, "unset") != tws.ROCKSDB_PROVIDER


def test_fire_purge_state_survives_checkpoint_restart(spark, tmp_path):
    """F1-F6 on the FIRE_AND_PURGE processor: run 1 fires one complete
    count-group (3 of 4 rows) and leaves ONE row buffered in MapState.
    A second query on the same checkpoint gets only 2 new same-window
    rows — it can only fire again if the buffered row was RESUMED
    (1+2=3), must not re-emit run 1's fire (input skipped), and the
    window-end timer that the new data's watermark releases finds the
    purged-empty buffer and emits nothing."""
    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_id", LongType()),
            StructField("ts_s", LongType()),
            StructField("value", DoubleType()),
        ]
    )
    src_dir, ckpt = tmp_path / "src", tmp_path / "ckpt"
    src_dir.mkdir()

    def run():
        src = (
            spark.readStream.schema(schema)
            .json(str(src_dir))
            .withColumn("ts", F.timestamp_seconds("ts_s"))
        )
        out = tws.fire_purge_tws(src, window_seconds=100, fire_count=3, evict_below=0.5)
        return _run_checkpointed(out, ckpt, "append")

    # ts 10,20,30,40 — window [0,100)
    _write_batches(
        src_dir,
        [
            {"user_id": 1, "event_id": i, "ts_s": 10 * (i + 1), "value": 1.0}
            for i in range(4)
        ],
    )
    assert run() == [(1, 0, 0, 3, 300, "count")]
    _write_batches(
        src_dir,
        [
            {"user_id": 1, "event_id": 10, "ts_s": 50, "value": 1.0},
            {"user_id": 1, "event_id": 11, "ts_s": 60, "value": 1.0},
            {"user_id": 2, "event_id": 12, "ts_s": 250, "value": 1.0},
        ],
    )
    assert run() == [(1, 0, 1, 3, 300, "count")]


def test_rising_alarm_processing_time_timers(spark, tmp_path):
    """The reference's LITERAL wall-clock timer form
    (ProcessAlarmTest.scala:90-100: +10s processing-time timer,
    delete-on-fall, emit from onTimer) on TimeMode=ProcessingTime —
    deterministic in OUTPUT (only the fire instant is wall-clock):
    always-rising keys fire exactly once with event-time-derived
    payloads, a delete-on-fall key never fires."""
    # ONE microbatch (single file), so every key's pending-timer
    # decision is its in-batch fold's FINAL state — wall-clock only
    # picks the fire INSTANT, never the output content:
    #  - user 1 rises monotonically -> timer registered at first rise,
    #    never deleted -> must fire exactly once (streak from ts=110,
    #    n_rising=3 at registration batch end).
    #  - user 2 rises (timer) then FALLS in the same batch -> deleteTimer
    #    -> must NEVER fire.
    #  - user 3 falls then rises at the end -> pending timer from the
    #    final streak (start ts=140, n_rising=1) -> fires once.
    _write_batches(
        tmp_path,
        *_event_batches(
            [  # ts, user, value
                (100, 1, 1.0), (110, 1, 2.0), (120, 1, 3.0), (130, 1, 4.0),
                (100, 2, 5.0), (110, 2, 6.0), (140, 2, 1.0),
                (100, 3, 9.0), (120, 3, 3.0), (140, 3, 7.0),
            ]
        ),
    )
    src = (
        spark.readStream.schema(EVENTS)
        .json(str(tmp_path))
        .withColumn("ts", F.timestamp_seconds("ts"))
    )
    alarms = tws.rising_alarm_ptime_tws(src, hold_seconds=2)
    # default ASAP trigger: Spark keeps running (empty) microbatches
    # while processing-time timers are pending, which is exactly what
    # lets the +2s wall-clock expiries fire after the single data batch
    # drains.
    q = _start(
        spark,
        alarms.writeStream.format("memory")
        .queryName("ptime_alarms")
        .outputMode("append"),
    )
    try:
        # NOTE: processAllAvailable would NEVER return here — with
        # pending processing-time timers the engine always has another
        # batch scheduled (measured: the first draft of this test hung
        # in it) — so the sink is purely POLLED until the expected
        # alarms land.
        expected = {(1, 110, 3), (3, 140, 1)}
        deadline = time.time() + 300
        while time.time() < deadline:
            time.sleep(1)
            if set(_rows(spark.table("ptime_alarms"))) >= expected:
                break
        # grace window: user 2's deleted timer must stay silent, and no
        # timer may fire twice
        time.sleep(4)
        got = _rows(spark.table("ptime_alarms"))
    finally:
        q.stop()
        spark.catalog.dropTempView("ptime_alarms")
    assert got == [(1, 110, 3), (3, 140, 1)]


def test_session_gap_out_of_order_batch_widens_not_regresses(spark, tmp_path):
    """A second microbatch arriving out of order (inside the 1 s
    watermark delay) must WIDEN the session: session_end stays at the
    max timestamp already seen, not the late row's older one (which
    would also have re-armed the gap timer a second early)."""
    # Batch 1 ends at ts=101.2 (wm -> 100.2); batch 2's row at ts=100.5
    # is ADMITTED (ts > wm) but truncates to ts_l=100 < the stored
    # last=101. Batch 3 flushes the timer.
    _write_batches(
        tmp_path,
        *_event_batches(
            [(100.0, 1, 1.0), (101.2, 1, 2.0)],
            [(100.5, 1, 3.0)],
            [(1000.0, 2, 0.0)],
        ),
    )
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", DoubleType()),
            StructField("user_id", LongType()),
            StructField("value", DoubleType()),
        ]
    )
    sessions = tws.session_gap_tws(_replay(spark, tmp_path, schema), gap_seconds=60)
    # user 1: start=100 (min), end=101 (max, NOT regressed to 100),
    # 3 events; user 2's lone far-future row never closes (timer past
    # the final watermark).
    assert _rows(run_bounded_now(sessions)) == [(1, 100, 101, 3, 600)]


def test_two_stream_reconcile_first_class_state_and_timers(spark, tmp_path):
    """The two-input co-processor (M3 stateful) on a hand-built
    scenario: cross-batch pending state, the payment-side counter
    surviving batches, one click matching several pending orders,
    same-batch matches, timer expiry off the final watermark, and a
    past-final-watermark order that never emits."""
    # GAP=200s; batch time ranges strictly increase (B1 <= 170 < 180 <=
    # B2 <= 210 < 900 <= B3) so nothing dies against the watermark.
    #  - u1: a click BEFORE any order (ts=100, must match nothing but
    #    count in the payment-side state), then orders at 120 and 150
    #    whose first eligible click (ts=200, the user's 2nd click) lands
    #    in the NEXT batch -> both matched with clicks_before=2; a later
    #    click (210) finds nothing left.
    #  - u2: order at 130, no click -> gap timer at 330 fires once the
    #    final watermark (999) passes it -> expired; a second order at
    #    900 (timer 1100 > 999) must NEVER emit.
    #  - u4: same-batch order(190)/click(195) -> matched, latency 5,
    #    clicks_before=1.
    #  - u3: click-only filler rows; its ts=1000 click drives the final
    #    watermark.
    b1 = [  # (eid, user, ts, side, value)
        (1, 1, 100, "pay", None), (2, 1, 120, "order", 2.5),
        (3, 1, 150, "order", 1.0), (4, 2, 130, "order", 9.99),
        (5, 3, 170, "pay", None),
        (12, 5, 160, "order", None),  # NULL-value purchase (NULL cents)
    ]
    b2 = [
        (6, 1, 200, "pay", None), (7, 1, 210, "pay", None),
        (8, 4, 190, "order", 3.25), (9, 4, 195, "pay", None),
        (13, 5, 185, "pay", None),
    ]
    b3 = [(10, 2, 900, "order", 7.0), (11, 3, 1000, "pay", None)]
    _write_batches(
        tmp_path,
        *[
            [
                {"event_id": e, "user_id": u, "ts": ts, "side": s, "value": v}
                for e, u, ts, s, v in batch
            ]
            for batch in (b1, b2, b3)
        ],
    )
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("ts", LongType()),
            StructField("side", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    out = tws.two_stream_reconcile_tws(_replay(spark, tmp_path, schema), gap_seconds=200)
    assert _rows(run_bounded_now(out)) == [
        # u1's two pending orders both matched by its 2nd click (eid 6)
        (1, 2, 120, 250, "matched", 6, 80, 2),
        (1, 3, 150, 100, "matched", 6, 50, 2),
        # u2's first order expired by the gap timer; order eid 10
        # (timer 1100 > final watermark 999) is absent
        (2, 4, 130, 999, "expired", None, None, None),
        # u4 same-batch match, first click of the key
        (4, 8, 190, 325, "matched", 9, 5, 1),
        # u5's NULL-value purchase reconciles with NULL cents (the
        # oracle's floor(NULL*100)) instead of crashing the worker
        (5, 12, 160, None, "matched", 13, 25, 1),
    ]

"""ST4 on the first-class Spark 4 timer API: ``transformWithStateInPandas``.

The reference's rising-temperature alarm
(``hk/processFunctionTest/ProcessAlarmTest.scala:76-108``) is built on
Flink timers: register a +horizon timer on the first rise (`:90-94`),
delete it on a fall (`:95-100`), emit the alarm from ``onTimer``
(`:103-107``). Spark 4's ``StatefulProcessor`` exposes the identical
surface — ``handle.registerTimer`` / ``handle.deleteTimer`` /
``handleExpiredTimer`` — which :class:`RisingStreakTimerProcessor`
uses verbatim (event-time mode: a timer fires when the watermark
passes its expiry, the deterministic twin of the reference's
wall-clock timer; SURVEY.md §7.4).

Runtime gate: the TWS Python worker needs the protobuf runtime
(``StateMessage_pb2``), which is not pip-installed here. The sandbox
ships a public protobuf runtime vendored inside the Google Cloud SDK;
:func:`protobuf_pythonpath` locates it and :func:`ensure_tws_runtime`
exposes it to the driver and the workers of an already-running
session (plus ``TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK=true`` —
the vendored 6.32 runtime is one minor version behind pyspark's 6.33
gencode, which protobuf's own escape hatch accepts).

The runtime is unlocked in-session by the stream constructors below:
each builds its operator through :func:`_by_user`, the one
``transformWithStateInPandas`` call, which unlocks the stream's
session first. Five driver-gate catalog entries (``streaming_*_tws``)
run on this API; the bounded runner sets the RocksDB state store
provider TWS requires around each query's start only. Without a
protobuf runtime the constructors raise. ``stateful.py`` holds the
``applyInPandasWithState`` twins (e.g. ``streaming_rising_alarm``) of
the same semantics.
"""

from __future__ import annotations

import os
import sys
import tempfile
import threading

#: Known locations of a vendored public protobuf runtime (checked in
#: order). The Google Cloud SDK ships one under its appengine platform.
PROTOBUF_VENDOR_PATHS = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
)

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"


def protobuf_pythonpath() -> str | None:
    """Path to prepend to PYTHONPATH so ``google.protobuf`` imports,
    or '' if it already does without help, or None if unavailable.

    The vendor paths are probed FIRST: after
    :func:`ensure_tws_runtime` has run in this process,
    ``google.protobuf`` imports via a process-local ``sys.path``
    entry that the workers do NOT see — returning '' then would leave
    a restarted SparkContext in the same process (a fresh
    ``sc.environment``) without the path, and break its workers."""
    for p in PROTOBUF_VENDOR_PATHS:
        if os.path.isfile(os.path.join(p, "google", "protobuf", "__init__.py")):
            return p
    try:
        import google.protobuf  # noqa: F401

        return ""
    except ImportError:
        return None


#: applicationIds whose SparkContext.environment already carries the
#: unlock — keyed per context, NOT a process-global bool: a restarted
#: session in the same Python process gets a fresh SparkContext whose
#: environment must be populated again. Guarded by a lock so two
#: threads racing the first unlock don't double-symlink/double-prepend.
_READY_APP_IDS: set[str] = set()
_READY_LOCK = threading.Lock()


def ensure_tws_runtime(spark) -> None:
    """Unlock the TWS Python workers ON AN ARBITRARY (vanilla) session,
    after the JVM has already started — the driver-gate path.

    The correctness driver hands us an already-running session, so the
    environment cannot be prepared before the JVM starts. Three
    measured facts make the in-session unlock possible anyway:

    1. A Python UDF copies ``sc.environment`` when it is CREATED, and
       its workers get that copy, so ``PYTHONPATH`` + the protobuf
       version-check escape hatch reach the TWS state-server worker of
       every UDF created after the mutation, without restarting the
       JVM. A UDF created before it keeps the old environment and its
       worker fails to import protobuf — hence :func:`_by_user`
       unlocks before it creates the UDF.
       (``sc.addPyFile`` does NOT reach that worker — it is launched by
       ``StreamingPythonRunner``, which only sees env vars.)
    2. The driver side only needs ``sys.path`` + ``os.environ``, both
       process-local and mutable at any time.
    3. The RocksDB provider is a runtime SQL conf, set around each TWS
       query's start by the bounded runner.

    The vendored protobuf lives in a directory with many other
    top-level modules, so the path handed to workers is a scratch dir
    exposing ONLY a symlink to its ``google/`` package — nothing else
    can be shadowed. Raises RuntimeError when no runtime exists.
    """
    app_id = spark.sparkContext.applicationId
    with _READY_LOCK:
        if app_id in _READY_APP_IDS:
            return
        _ensure_tws_runtime_locked(spark)
        _READY_APP_IDS.add(app_id)


def _ensure_tws_runtime_locked(spark) -> None:
    path = protobuf_pythonpath()
    if path is None:
        raise RuntimeError("no protobuf runtime available for TWS workers")
    sc = spark.sparkContext
    os.environ["TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK"] = "true"
    sc.environment["TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK"] = "true"
    if path:
        link_dir = tempfile.mkdtemp(prefix="pbuf_runtime_")
        os.symlink(os.path.join(path, "google"), os.path.join(link_dir, "google"))
        sys.path.insert(0, link_dir)
        prev = sc.environment.get("PYTHONPATH", "")
        sc.environment["PYTHONPATH"] = (
            f"{link_dir}:{prev}" if prev else link_dir
        )


def _by_user(stream, processor, out_schema, output_mode: str, time_mode: str):
    """Key ``stream`` by user_id and run ``processor`` on it: the one
    ``transformWithStateInPandas`` call. The runtime is unlocked on the
    stream's session first, because the UDF this creates keeps the
    environment of the moment it is created."""
    ensure_tws_runtime(stream.sparkSession)
    return stream.groupBy("user_id").transformWithStateInPandas(
        processor,
        outputStructType=out_schema,
        outputMode=output_mode,
        timeMode=time_mode,
    )


def build_rising_alarm_tws(horizon_seconds: int = 600):
    """Return (processor, output_schema) for the timer-based rising
    alarm. Deferred import so this module stays importable without
    pyspark's stateful-processor extras resolved."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        ExpiredTimerInfo,
        StatefulProcessor,
        StatefulProcessorHandle,
        TimerValues,
    )
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("streak_start", LongType()),
            StructField("alarm_ts", LongType()),
            StructField("n_rising", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("last_value", DoubleType()),
            StructField("streak_start", LongType()),
            StructField("n_rising", LongType()),
        ]
    )

    class RisingStreakTimerProcessor(StatefulProcessor):
        """ProcessAlarmTest.scala:76-108 on first-class timers:
        register on first rise, delete on fall, emit in the expired-
        timer callback."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self.handle = handle
            self.state = handle.getValueState("rise", state_schema)

        def handleInputRows(self, key, rows, timerValues: TimerValues):
            if self.state.exists():
                last_value, streak_start, n_rising = self.state.get()
                if streak_start == -1:  # stored None sentinel
                    streak_start = None
            else:
                last_value, streak_start, n_rising = None, None, 0
            # TWS may hand a key's batch as SEVERAL Arrow chunks; the
            # deterministic (ts, event_id) fold must sort the whole
            # batch at once, not per-chunk.
            pdf = pd.concat(list(rows), ignore_index=True)
            pdf = pdf.sort_values(["ts_l", "event_id"])
            for val, ts_l in zip(pdf["value"], pdf["ts_l"]):
                val = float(val)
                ts_l = int(ts_l)
                rising = last_value is not None and val > last_value
                if rising:
                    if streak_start is None:
                        streak_start = ts_l
                        # ProcessAlarmTest.scala:90-94
                        self.handle.registerTimer(
                            (streak_start + horizon_seconds) * 1000
                        )
                    n_rising += 1
                else:
                    if streak_start is not None:
                        # ProcessAlarmTest.scala:95-100
                        self.handle.deleteTimer(
                            (streak_start + horizon_seconds) * 1000
                        )
                    streak_start, n_rising = None, 0
                last_value = val
            self.state.update(
                (
                    last_value,
                    -1 if streak_start is None else streak_start,
                    n_rising,
                )
            )
            return iter(())

        def handleExpiredTimer(
            self, key, timerValues: TimerValues, expiredTimerInfo: ExpiredTimerInfo
        ):
            # ProcessAlarmTest.scala:103-107: the streak survived the
            # horizon — emit the alarm from the timer callback.
            last_value, streak_start, n_rising = self.state.get()
            expiry_ms = expiredTimerInfo.getExpiryTimeInMs()
            yield pd.DataFrame(
                {
                    "user_id": [int(key[0])],
                    "streak_start": [int(streak_start)],
                    "alarm_ts": [expiry_ms // 1000],
                    "n_rising": [int(n_rising)],
                }
            )

        def close(self) -> None:
            pass

    return RisingStreakTimerProcessor(), out_schema


def build_session_summary_tws():
    """Return (processor, output_schema) for the running per-user
    session summary on the remaining first-class state kinds:

    - MapState  per-event-type counts (ProcessFunctionTest's keyed
      state generalized to a map keyed by a second dimension),
    - ListState rolling last-3 values,
    - plus the derived totals a ValueState would hold.

    The processor emits a RUNNING summary row for a key whenever a
    microbatch contains input for it (update mode); the final state of
    a key is therefore its row with the maximal n_events — strictly
    increasing per emitting batch — which is how the bounded catalog
    query selects end-state deterministically. State must genuinely
    survive across microbatches for the numbers to come out right,
    so the catalog feeds it the time-bucketed replay source."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("n_types", LongType()),
            StructField("max_type_cnt", LongType()),
            StructField("last3_cents", LongType()),
        ]
    )

    class SessionSummaryProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.counts = handle.getMapState(
                "counts",
                StructType([StructField("t", StringType())]),
                StructType([StructField("n", LongType())]),
            )
            self.recent = handle.getListState(
                "recent", StructType([StructField("cents", LongType())])
            )

        def handleInputRows(self, key, rows, timerValues):
            import math

            pdf = pd.concat(list(rows), ignore_index=True)
            # Arrival order is (bucket, event_id): batches come in time-
            # bucket order, rows inside a batch are sorted here.
            pdf = pdf.sort_values(["event_id"])
            recent = [r[0] for r in self.recent.get()]
            for t, v in zip(pdf["event_type"], pdf["value"]):
                k = (str(t),)
                n = self.counts.getValue(k)[0] if self.counts.containsKey(k) else 0
                self.counts.updateValue(k, (n + 1,))
                # floor, not round: float64 floor is bit-identical across
                # engines; round's half-rule is not.
                recent = (recent + [int(math.floor(float(v) * 100.0))])[-3:]
            self.recent.put([(c,) for c in recent])
            n_events, n_types, max_cnt = 0, 0, 0
            for _, val in self.counts.iterator():
                n_types += 1
                n_events += val[0]
                max_cnt = max(max_cnt, val[0])
            yield pd.DataFrame(
                {
                    "user_id": [int(key[0])],
                    "n_events": [n_events],
                    "n_types": [n_types],
                    "max_type_cnt": [max_cnt],
                    "last3_cents": [sum(recent)],
                }
            )

        def close(self) -> None:
            pass

    return SessionSummaryProcessor(), out_schema


def session_summary_tws(events_stream):
    """Streaming DataFrame -> running per-user summary stream (update
    mode). Input carries (user_id, event_id, event_type, value)."""
    return _by_user(
        events_stream.select("user_id", "event_id", "event_type", "value"),
        *build_session_summary_tws(),
        "Update",
        "None",
    )


def build_session_gap_tws(gap_seconds: int):
    """Return (processor, output_schema) for timer-driven
    sessionization — THE canonical Flink timer pattern: every event
    deletes the key's pending gap timer and re-registers it at
    ``event_time + gap``; when the watermark outruns the last event by
    the gap, the timer fires, the session row is emitted from the
    callback, and the state clears so the next event opens a new
    session (the onTimer discipline of ProcessAlarmTest.scala:90-107
    applied to session windows)."""
    import math

    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        ExpiredTimerInfo,
        StatefulProcessor,
        StatefulProcessorHandle,
        TimerValues,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("session_start", LongType()),
            StructField("session_end", LongType()),
            StructField("n_events", LongType()),
            StructField("sum_cents", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("start", LongType()),
            StructField("last", LongType()),
            StructField("n", LongType()),
            StructField("cents", LongType()),
        ]
    )

    class SessionGapProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.handle = handle
            self.state = handle.getValueState("sess", state_schema)

        def handleInputRows(self, key, rows, timerValues: TimerValues):
            if self.state.exists():
                start, last, n, cents = self.state.get()
                # one live timer per key: replace it with the batch's
                # final position below (ProcessAlarmTest.scala:95-100)
                self.handle.deleteTimer((last + gap_seconds) * 1000)
            else:
                start = last = None
                n = cents = 0
            pdf = pd.concat(list(rows), ignore_index=True)
            pdf = pdf.sort_values(["ts_l", "event_id"])
            for ts_l, v in zip(pdf["ts_l"], pdf["value"]):
                ts_l = int(ts_l)
                # min/max, not first/latest: a batch arriving out of
                # order (within the watermark delay) must WIDEN the
                # session, never regress session_end below an already-
                # seen timestamp (which would also re-arm the gap
                # timer early and close the session prematurely)
                if start is None or ts_l < start:
                    start = ts_l
                if last is None or ts_l > last:
                    last = ts_l
                n += 1
                cents += int(math.floor(float(v) * 100.0))
            self.state.update((start, last, n, cents))
            self.handle.registerTimer((last + gap_seconds) * 1000)
            return iter(())

        def handleExpiredTimer(
            self, key, timerValues: TimerValues, expiredTimerInfo: ExpiredTimerInfo
        ):
            start, last, n, cents = self.state.get()
            self.state.clear()
            yield pd.DataFrame(
                {
                    "user_id": [int(key[0])],
                    "session_start": [int(start)],
                    "session_end": [int(last)],
                    "n_events": [int(n)],
                    "sum_cents": [int(cents)],
                }
            )

        def close(self) -> None:
            pass

    return SessionGapProcessor(), out_schema


def session_gap_tws(events_stream, gap_seconds: int):
    """Streaming DataFrame -> closed-session stream. Input carries
    (user_id, event_id, ts TIMESTAMP, value)."""
    from flink_scala_spark.functions.portable import epoch_seconds

    withts = events_stream.select(
        "user_id", "event_id", epoch_seconds("ts").alias("ts_l"), "value", "ts"
    ).withWatermark("ts", "1 second")
    return _by_user(
        withts, *build_session_gap_tws(gap_seconds), "Append", "EventTime"
    )


def build_fire_purge_tws(window_seconds: int, fire_count: int):
    """Return (processor, output_schema) for the FIRE_AND_PURGE
    trigger semantics of ``TestTriggerAndEvictor.scala:84-107``:
    Flink's ``UtcTrigger`` returns FIRE_AND_PURGE from both
    ``onElement`` and ``onEventTime`` — each fire hands the window
    function ONLY the delta accumulated since the last fire and then
    clears the buffer (the comment block at :71-82 spells out why:
    purge-on-fire keeps big windows from holding all elements).

    Realized here as the general purging form —
    ``PurgingTrigger(CountTrigger.of(N))`` over keyed tumbling
    event-time windows, plus the window-end event-time fire:

    - per (key, window) buffer lives in MapState (window_start ->
      (n, cents, n_fires)); the first element of a window registers
      the window-end timer (FIRE_AND_PURGE on onEventTime);
    - every ``fire_count``-th element FIRES the buffered aggregate
      and PURGES it (emission = the increment, state resets to zero);
    - the expired window-end timer fires the remaining partial buffer
      (if any) and removes the window's state entirely — so state per
      key is O(open windows), never O(elements).
    """
    import math

    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        ExpiredTimerInfo,
        StatefulProcessor,
        StatefulProcessorHandle,
        TimerValues,
    )
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("window_start", LongType()),
            StructField("fire_seq", LongType()),
            StructField("n_events", LongType()),
            StructField("sum_cents", LongType()),
            StructField("fired_by", StringType()),
        ]
    )

    class FirePurgeProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.handle = handle
            self.windows = handle.getMapState(
                "win",
                StructType([StructField("w_start", LongType())]),
                StructType(
                    [
                        StructField("n", LongType()),
                        StructField("cents", LongType()),
                        StructField("n_fires", LongType()),
                    ]
                ),
            )

        def handleInputRows(self, key, rows, timerValues: TimerValues):
            pdf = pd.concat(list(rows), ignore_index=True)
            pdf = pdf.sort_values(["ts_l", "event_id"])
            out = {c: [] for c in ("w", "seq", "n", "cents", "by")}
            for ts_l, v in zip(pdf["ts_l"], pdf["value"]):
                ts_l = int(ts_l)
                w_start = (ts_l // window_seconds) * window_seconds
                mk = (w_start,)
                if self.windows.containsKey(mk):
                    n, cents, n_fires = self.windows.getValue(mk)
                else:
                    n, cents, n_fires = 0, 0, 0
                    # first element of the window: arm the onEventTime
                    # FIRE_AND_PURGE at the window end
                    self.handle.registerTimer((w_start + window_seconds) * 1000)
                n += 1
                cents += int(math.floor(float(v) * 100.0))
                if n == fire_count:
                    # onElement FIRE_AND_PURGE: emit the increment,
                    # clear the buffer
                    out["w"].append(w_start)
                    out["seq"].append(n_fires)
                    out["n"].append(n)
                    out["cents"].append(cents)
                    out["by"].append("count")
                    n, cents, n_fires = 0, 0, n_fires + 1
                self.windows.updateValue(mk, (n, cents, n_fires))
            yield pd.DataFrame(
                {
                    "user_id": pd.array([int(key[0])] * len(out["w"]), dtype="int64"),
                    "window_start": pd.array(out["w"], dtype="int64"),
                    "fire_seq": pd.array(out["seq"], dtype="int64"),
                    "n_events": pd.array(out["n"], dtype="int64"),
                    "sum_cents": pd.array(out["cents"], dtype="int64"),
                    "fired_by": pd.array(out["by"], dtype=object),
                }
            )

        def handleExpiredTimer(
            self, key, timerValues: TimerValues, expiredTimerInfo: ExpiredTimerInfo
        ):
            w_start = expiredTimerInfo.getExpiryTimeInMs() // 1000 - window_seconds
            mk = (w_start,)
            if not self.windows.containsKey(mk):
                return
            n, cents, n_fires = self.windows.getValue(mk)
            self.windows.removeKey(mk)  # window is over: purge entirely
            if n > 0:
                yield pd.DataFrame(
                    {
                        "user_id": pd.array([int(key[0])], dtype="int64"),
                        "window_start": pd.array([int(w_start)], dtype="int64"),
                        "fire_seq": pd.array([int(n_fires)], dtype="int64"),
                        "n_events": pd.array([int(n)], dtype="int64"),
                        "sum_cents": pd.array([int(cents)], dtype="int64"),
                        "fired_by": pd.array(["timer"], dtype=object),
                    }
                )

        def close(self) -> None:
            pass

    return FirePurgeProcessor(), out_schema


def fire_purge_tws(events_stream, window_seconds: int, fire_count: int,
                   evict_below: float):
    """Streaming DataFrame -> FIRE_AND_PURGE emission stream. Input
    carries (user_id, event_id, ts TIMESTAMP, value). The evictor
    (MyEvictor in TestTriggerAndEvictor.scala:122-134 drops invalid
    elements before the window function) is the pre-window filter
    ``value >= evict_below`` — applied BEFORE the watermark so both
    engines agree on which rows drive it."""
    from pyspark.sql import functions as F

    from flink_scala_spark.functions.portable import epoch_seconds

    withts = (
        events_stream.where(F.col("value") >= evict_below)
        .select(
            "user_id", "event_id", epoch_seconds("ts").alias("ts_l"), "value", "ts"
        )
        .withWatermark("ts", "1 second")
    )
    return _by_user(
        withts,
        *build_fire_purge_tws(window_seconds, fire_count),
        "Append",
        "EventTime",
    )


def rising_alarm_tws(events_stream, horizon_seconds: int = 600):
    """Streaming DataFrame -> timer-based rising alarm stream.

    Input must carry (user_id, event_id, ts TIMESTAMP, value) and a
    watermark on ts (event-time timers fire off the watermark)."""
    from flink_scala_spark.functions.portable import epoch_seconds

    withts = events_stream.select(
        "user_id", "event_id", epoch_seconds("ts").alias("ts_l"), "value", "ts"
    ).withWatermark("ts", "1 second")
    return _by_user(
        withts, *build_rising_alarm_tws(horizon_seconds), "Append", "EventTime"
    )


def build_two_stream_reconcile_tws(gap_seconds: int):
    """Return (processor, output_schema) for LIVE stateful TWO-INPUT
    co-processing — the stateful big brother of M3's CoMap
    (``ConnectAndUnion.scala:39-52`` merges two differently-typed
    streams and maps each side; ``StateTest.scala:67-74`` holds keyed
    ValueState per element): order-vs-payment reconciliation with a
    gap timer, run as ONE keyed processor over a TAGGED union of the
    two sides (Spark has no two-input keyed operator; the tagged
    ``unionByName(allowMissingColumns=True)`` IS the idiomatic
    connect — per-row dispatch on the tag replaces Flink's
    ``CoProcessFunction``'s two callbacks).

    Per-SIDE keyed state, exactly Flink's
    ``getRuntimeContext.getState`` pattern held once per input:
    - order side:  ListState ``pending_orders`` — purchases awaiting
      confirmation (eid, ts, cents); each arrival registers a gap
      timer at ``ts + gap`` (ProcessAlarmTest.scala:90-94 discipline);
    - payment side: ValueState ``pay_stats`` — (n_clicks,
      last_click_ts), the running per-key fold of the second input.

    Semantics (deterministic, oracle-checkable): a purchase is
    ``matched`` by the user's FIRST click strictly after it and within
    ``gap_seconds`` (emitting the match latency and the click's
    sequence number from the payment-side state); with no such click
    it is emitted ``expired`` from the gap-timer callback once the
    watermark passes ``ts + gap``. Eligible clicks always arrive in a
    batch strictly before the purchase's timer can fire (bucket k's
    watermark is built from buckets < k, all earlier than the click),
    so matched rows are independent of the replay's batching; expired
    rows need only the final-watermark condition — both facts the
    DuckDB oracle replays (see _TWS_RECONCILE_ORACLE).

    Timers are registered per purchase and never deleted; the expiry
    callback sweeps every still-pending purchase whose deadline the
    fired expiry covers, so duplicate expiries (two purchases in the
    same second) and already-matched purchases are both harmless.
    """
    import math

    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        ExpiredTimerInfo,
        StatefulProcessor,
        StatefulProcessorHandle,
        TimerValues,
    )
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("order_eid", LongType()),
            StructField("order_ts", LongType()),
            StructField("cents", LongType()),
            StructField("status", StringType()),
            StructField("pay_eid", LongType()),
            StructField("latency_s", LongType()),
            StructField("clicks_before", LongType()),
        ]
    )
    pending_schema = StructType(
        [
            StructField("eid", LongType()),
            StructField("ts", LongType()),
            StructField("cents", LongType()),
        ]
    )
    paystat_schema = StructType(
        [
            StructField("n_clicks", LongType()),
            StructField("last_click_ts", LongType()),
        ]
    )

    def _rows_df(rows: list[tuple]) -> "pd.DataFrame":
        cols = list(zip(*rows)) if rows else [[]] * 8
        return pd.DataFrame(
            {
                "user_id": pd.array(cols[0], dtype="int64"),
                "order_eid": pd.array(cols[1], dtype="int64"),
                "order_ts": pd.array(cols[2], dtype="int64"),
                # nullable Int64: a NULL-value purchase carries NULL
                # cents (floor(NULL*100) in the oracle), and expired
                # rows carry NULL pay fields
                "cents": pd.array(cols[3], dtype="Int64"),
                "status": pd.array(cols[4], dtype=object),
                "pay_eid": pd.array(cols[5], dtype="Int64"),
                "latency_s": pd.array(cols[6], dtype="Int64"),
                "clicks_before": pd.array(cols[7], dtype="Int64"),
            }
        )

    class TwoStreamReconcileProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.handle = handle
            self.pending = handle.getListState("pending_orders", pending_schema)
            self.paystats = handle.getValueState("pay_stats", paystat_schema)

        def _put_pending(self, pending: list[tuple]) -> None:
            if pending:
                self.pending.put(pending)
            else:
                self.pending.clear()

        def handleInputRows(self, key, rows, timerValues: TimerValues):
            pdf = pd.concat(list(rows), ignore_index=True)
            pdf = pdf.sort_values(["ts_l", "event_id"])
            pending = [
                (int(e), int(t), None if c is None else int(c))
                for e, t, c in self.pending.get()
            ]
            if self.paystats.exists():
                n_clicks, last_click_ts = map(int, self.paystats.get())
            else:
                n_clicks, last_click_ts = 0, -1
            uid = int(key[0])
            out: list[tuple] = []
            for _, row in pdf.iterrows():
                ts_l, eid = int(row["ts_l"]), int(row["event_id"])
                if row["side"] == "order":
                    # NULL-tolerant fold (review pass 2): a NULL-value
                    # purchase reconciles normally with NULL cents —
                    # the oracle's floor(NULL * 100)
                    v = row["value"]
                    cents = (
                        None
                        if pd.isna(v)
                        else int(math.floor(float(v) * 100.0))
                    )
                    pending.append((eid, ts_l, cents))
                    self.handle.registerTimer((ts_l + gap_seconds) * 1000)
                else:  # payment side
                    n_clicks += 1
                    last_click_ts = ts_l
                    still: list[tuple] = []
                    for p_eid, p_ts, p_cents in pending:
                        if p_ts < ts_l <= p_ts + gap_seconds:
                            out.append(
                                (
                                    uid, p_eid, p_ts, p_cents, "matched",
                                    eid, ts_l - p_ts, n_clicks,
                                )
                            )
                        else:
                            still.append((p_eid, p_ts, p_cents))
                    pending = still
            self._put_pending(pending)
            self.paystats.update((n_clicks, last_click_ts))
            if out:
                yield _rows_df(out)

        def handleExpiredTimer(
            self, key, timerValues: TimerValues, expiredTimerInfo: ExpiredTimerInfo
        ):
            expiry_s = expiredTimerInfo.getExpiryTimeInMs() // 1000
            pending = [
                (int(e), int(t), None if c is None else int(c))
                for e, t, c in self.pending.get()
            ]
            fire = [p for p in pending if p[1] + gap_seconds <= expiry_s]
            if not fire:
                return
            self._put_pending(
                [p for p in pending if p[1] + gap_seconds > expiry_s]
            )
            uid = int(key[0])
            yield _rows_df(
                [
                    (uid, p_eid, p_ts, p_cents, "expired", None, None, None)
                    for p_eid, p_ts, p_cents in fire
                ]
            )

        def close(self) -> None:
            pass

    return TwoStreamReconcileProcessor(), out_schema


def two_stream_reconcile_tws(tagged_stream, gap_seconds: int):
    """Tagged two-side streaming DataFrame -> reconciliation stream.

    Input carries (user_id, event_id, ts TIMESTAMP, value, side) where
    ``side`` is 'order' (value = amount) or 'pay' (value NULL) — the
    tagged union the caller builds with unionByName; the watermark
    must already ride ``ts`` so event-time gap timers fire."""
    from flink_scala_spark.functions.portable import epoch_seconds

    withts = tagged_stream.select(
        "user_id",
        "event_id",
        epoch_seconds("ts").alias("ts_l"),
        "value",
        "side",
        "ts",
    ).withWatermark("ts", "1 second")
    return _by_user(
        withts,
        *build_two_stream_reconcile_tws(gap_seconds),
        "Append",
        "EventTime",
    )


def build_rising_alarm_ptime_tws(hold_seconds: int):
    """Return (processor, output_schema) for the rising alarm on
    PROCESSING-TIME timers — the reference's literal wall-clock form
    (``ProcessAlarmTest.scala:90-100`` registers
    ``currentProcessingTime() + 10s``, stores the expiry in keyed
    state, deletes it on a fall, emits from ``onTimer``). The
    event-time twin (:func:`build_rising_alarm_tws`) is the
    deterministic gate path; this processor proves the wall-clock
    TimeMode end-to-end. Output rows carry only event-time-derived
    fields (streak_start event ts, n_rising), so a test can assert
    exact OUTPUT determinism — only the fire INSTANT is wall-clock.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        ExpiredTimerInfo,
        StatefulProcessor,
        StatefulProcessorHandle,
        TimerValues,
    )
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("streak_start", LongType()),
            StructField("n_rising", LongType()),
        ]
    )
    # the registered wall-clock expiry must be stored to be deletable
    # on a fall — exactly the reference's currentTimerState pattern
    state_schema = StructType(
        [
            StructField("last_value", DoubleType()),
            StructField("streak_start", LongType()),
            StructField("n_rising", LongType()),
            StructField("timer_ms", LongType()),
        ]
    )

    class RisingPtimeProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.handle = handle
            self.state = handle.getValueState("rise_pt", state_schema)

        def handleInputRows(self, key, rows, timerValues: TimerValues):
            if self.state.exists():
                last_value, streak_start, n_rising, timer_ms = self.state.get()
                if streak_start == -1:
                    streak_start = None
            else:
                last_value, streak_start, n_rising, timer_ms = None, None, 0, -1
            pdf = pd.concat(list(rows), ignore_index=True)
            pdf = pdf.sort_values(["ts_l", "event_id"])
            for val, ts_l in zip(pdf["value"], pdf["ts_l"]):
                val = float(val)
                ts_l = int(ts_l)
                rising = last_value is not None and val > last_value
                if rising:
                    if streak_start is None:
                        streak_start = ts_l
                        # ProcessAlarmTest.scala:90-94: wall clock + hold
                        timer_ms = (
                            timerValues.getCurrentProcessingTimeInMs()
                            + hold_seconds * 1000
                        )
                        self.handle.registerTimer(timer_ms)
                    n_rising += 1
                else:
                    if streak_start is not None:
                        # ProcessAlarmTest.scala:95-100
                        self.handle.deleteTimer(timer_ms)
                    streak_start, n_rising, timer_ms = None, 0, -1
                last_value = val
            self.state.update(
                (
                    last_value,
                    -1 if streak_start is None else streak_start,
                    n_rising,
                    timer_ms,
                )
            )
            return iter(())

        def handleExpiredTimer(
            self, key, timerValues: TimerValues, expiredTimerInfo: ExpiredTimerInfo
        ):
            last_value, streak_start, n_rising, _ = self.state.get()
            # fire-once: keep the value fold but clear the streak so a
            # later rise starts a fresh streak/timer
            self.state.update((last_value, -1, 0, -1))
            yield pd.DataFrame(
                {
                    "user_id": [int(key[0])],
                    "streak_start": [int(streak_start)],
                    "n_rising": [int(n_rising)],
                }
            )

        def close(self) -> None:
            pass

    return RisingPtimeProcessor(), out_schema


def rising_alarm_ptime_tws(events_stream, hold_seconds: int = 10):
    """Streaming DataFrame -> wall-clock rising alarm stream
    (processing-time TimeMode; no watermark involved). Input carries
    (user_id, event_id, ts TIMESTAMP, value)."""
    from flink_scala_spark.functions.portable import epoch_seconds

    withts = events_stream.select(
        "user_id", "event_id", epoch_seconds("ts").alias("ts_l"), "value"
    )
    return _by_user(
        withts,
        *build_rising_alarm_ptime_tws(hold_seconds),
        "Append",
        "ProcessingTime",
    )

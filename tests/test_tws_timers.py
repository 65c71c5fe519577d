"""ST4 on the FIRST-CLASS Spark 4 timer API (transformWithStateInPandas).

The applyInPandasWithState emulation (streaming/stateful.py) is the
driver-gate path; this test proves the direct Flink-timer equivalent —
registerTimer / deleteTimer / handleExpiredTimer
(ProcessAlarmTest.scala:76-108) — actually runs end-to-end whenever a
protobuf runtime is present (the TWS Python worker requires it; the
sandbox vendors one inside the Google Cloud SDK, see streaming/tws.py).

Runs in a SUBPROCESS because the worker needs PYTHONPATH set before
the JVM starts, and TWS needs the RocksDB state store provider —
neither should leak into the shared test session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from flink_scala_spark.streaming.tws import protobuf_pythonpath, tws_env

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import json, sys, tempfile
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, LongType, StructField, StructType,
                               TimestampType)

sys.path.insert(0, sys.argv[1])
from flink_scala_spark.streaming.tws import ROCKSDB_PROVIDER, rising_alarm_tws

spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

# Three keys, HORIZON=60s, replayed one file per microbatch so the
# watermark advances BETWEEN batches and event-time timers fire.
# Batch time ranges are strictly increasing (B1 <= 170 < 180 <= B2 <
# 1000 = B3) because event-time TWS drops input rows at-or-behind the
# watermark (ts <= wm, measured: a ts=0 row dies against the INITIAL
# watermark of 0), so nothing sits at a batch boundary or at zero.
#  - user 1 rises with no fall: timer at streak_start+60=170 fires
#    once the watermark passes it.
#  - user 2 rises at 110 (timer at 170) but FALLS at 150 inside the
#    same batch -> deleteTimer -> that timer never fires; the second
#    streak (from 160) registers a timer at 220 and survives -> fires.
#  - user 3 is the watermark driver: a final far-future row pushes the
#    global watermark past every pending expiry; its own lone rise at
#    ts=1000 registers a timer past the final watermark (never fires).
B1 = [  # ts, user, value
    (100, 1, 1.0), (110, 1, 2.0), (120, 1, 3.0), (130, 1, 4.0),
    (100, 2, 5.0), (110, 2, 6.0), (140, 2, 7.0), (150, 2, 1.0),
    (160, 2, 2.0), (170, 2, 3.0),
    (100, 3, 0.0), (170, 3, 0.0),
]
B2 = [
    (180, 1, 5.0), (190, 1, 6.0),
    (180, 2, 4.0), (220, 2, 5.0), (230, 2, 6.0),
    (190, 3, 0.0),
]
B3 = [(1000, 3, 1.0)]  # flush: watermark -> 999

d = tempfile.mkdtemp()
import os as _os
import time as _time

_now = _time.time()
for i, batch in enumerate((B1, B2, B3)):
    rows = [
        {"event_id": j, "ts": ts, "user_id": u, "value": v}
        for j, (ts, u, v) in enumerate(batch)
    ]
    pd.DataFrame(rows).to_json(f"{d}/b{i}.json", orient="records", lines=True)
    # FileStreamSource orders files by modification time; writes within
    # the same clock tick TIE, and a tie replays b2 before b1 — whose
    # rows then sit below the watermark and are DROPPED (reproduced
    # under co-load: timers fired with batch-1 state). Force strictly
    # increasing mtimes, exactly like streaming/sources.py's replay
    # layout does.
    _os.utime(f"{d}/b{i}.json", (_now + i, _now + i))

schema = StructType([
    StructField("event_id", LongType()),
    StructField("ts", LongType()),
    StructField("user_id", LongType()),
    StructField("value", DoubleType()),
])
src = (
    spark.readStream.schema(schema)
    .option("maxFilesPerTrigger", "1")
    .json(d)
    .withColumn("ts", F.timestamp_seconds("ts"))
)
alarms = rising_alarm_tws(src, horizon_seconds=60)
q = (
    alarms.writeStream.format("memory").queryName("tws_alarms")
    .outputMode("append").trigger(availableNow=True).start()
)
assert q.awaitTermination(540), "streaming query did not finish in 540s"
out = sorted(tuple(r) for r in spark.table("tws_alarms").collect())
print("RESULT:" + json.dumps(out))
"""


@pytest.mark.skipif(
    protobuf_pythonpath() is None,
    reason="no protobuf runtime available for the TWS worker",
)
def test_rising_alarm_first_class_timers():
    env = dict(os.environ)
    env.update(tws_env(protobuf_pythonpath()))
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, REPO],
        capture_output=True,
        text=True,
        timeout=900,
        env=env,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("RESULT:")]
    assert line, proc.stdout[-2000:]
    got = [tuple(r) for r in json.loads(line[0][len("RESULT:"):])]
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


_STATE_KINDS_SCRIPT = r"""
import json, sys, tempfile
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.stateful_processor import (StatefulProcessor,
                                                      StatefulProcessorHandle)
from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                               StructType)

sys.path.insert(0, sys.argv[1])
from flink_scala_spark.streaming.tws import ROCKSDB_PROVIDER

spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

OUT = StructType([
    StructField("user_id", LongType()),
    StructField("n_types", LongType()),
    StructField("max_type_cnt", LongType()),
    StructField("last3_sum", DoubleType()),
])

class SessionSummary(StatefulProcessor):
    '''ListState (rolling last-3 values) + MapState (per-type counts) —
    the remaining first-class state kinds beyond ValueState.'''
    def init(self, handle: StatefulProcessorHandle):
        self.recent = handle.getListState(
            "recent", StructType([StructField("v", DoubleType())]))
        self.counts = handle.getMapState(
            "counts",
            StructType([StructField("t", StringType())]),
            StructType([StructField("n", LongType())]))
    def handleInputRows(self, key, rows, timerValues):
        pdf = pd.concat(list(rows), ignore_index=True)
        pdf = pdf.sort_values(["event_id"])
        for t, v in zip(pdf["etype"], pdf["value"]):
            n = self.counts.getValue((t,))[0] if self.counts.containsKey((t,)) else 0
            self.counts.updateValue((t,), (n + 1,))
            vals = [r[0] for r in self.recent.get()] + [float(v)]
            self.recent.put([(x,) for x in vals[-3:]])
        n_types, max_cnt = 0, 0
        for k, val in self.counts.iterator():
            n_types += 1
            max_cnt = max(max_cnt, val[0])
        last3 = sum(r[0] for r in self.recent.get())
        yield pd.DataFrame({
            "user_id": [int(key[0])], "n_types": [n_types],
            "max_type_cnt": [max_cnt], "last3_sum": [round(last3, 2)]})
    def close(self):
        pass

rows = [
    {"event_id": 0, "user_id": 1, "etype": "view", "value": 1.0},
    {"event_id": 1, "user_id": 1, "etype": "view", "value": 2.0},
    {"event_id": 2, "user_id": 1, "etype": "buy", "value": 3.0},
    {"event_id": 3, "user_id": 1, "etype": "view", "value": 4.0},
    {"event_id": 4, "user_id": 2, "etype": "buy", "value": 5.0},
]
d = tempfile.mkdtemp()
pd.DataFrame(rows).to_json(f"{d}/in.json", orient="records", lines=True)
schema = StructType([
    StructField("event_id", LongType()),
    StructField("user_id", LongType()),
    StructField("etype", StringType()),
    StructField("value", DoubleType()),
])
src = spark.readStream.schema(schema).json(d)
out = src.groupBy("user_id").transformWithStateInPandas(
    SessionSummary(), outputStructType=OUT, outputMode="Append",
    timeMode="None")
q = (out.writeStream.format("memory").queryName("tws_state")
     .outputMode("append").trigger(availableNow=True).start())
assert q.awaitTermination(540), "streaming query did not finish in 540s"
res = sorted(tuple(r) for r in spark.table("tws_state").collect())
print("RESULT:" + json.dumps(res))
"""


@pytest.mark.skipif(
    protobuf_pythonpath() is None,
    reason="no protobuf runtime available for the TWS worker",
)
def test_list_and_map_state_kinds():
    """ListState + MapState on the first-class API: user 1 sees 3
    views + 1 buy (map: {view:3, buy:1}), last-3 values 2,3,4; user 2
    one buy."""
    env = dict(os.environ)
    env.update(tws_env(protobuf_pythonpath()))
    proc = subprocess.run(
        [sys.executable, "-c", _STATE_KINDS_SCRIPT, REPO],
        capture_output=True,
        text=True,
        timeout=900,
        env=env,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("RESULT:")]
    assert line, proc.stdout[-2000:]
    got = [tuple(r) for r in json.loads(line[0][len("RESULT:"):])]
    assert got == [(1, 2, 3, 9.0), (2, 1, 1, 5.0)]


_RESTART_SCRIPT = r"""
import json, sys, tempfile
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.streaming.stateful_processor import (StatefulProcessor,
                                                      StatefulProcessorHandle)
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

sys.path.insert(0, sys.argv[1])
from flink_scala_spark.streaming.tws import ROCKSDB_PROVIDER

spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

OUT = StructType([StructField("user_id", LongType()),
                  StructField("cnt", LongType())])

class RunningCount(StatefulProcessor):
    def init(self, handle: StatefulProcessorHandle):
        self.cnt = handle.getValueState(
            "cnt", StructType([StructField("n", LongType())]))
    def handleInputRows(self, key, rows, timerValues):
        n = self.cnt.get()[0] if self.cnt.exists() else 0
        for pdf in rows:
            n += len(pdf)
        self.cnt.update((n,))
        yield pd.DataFrame({"user_id": [int(key[0])], "cnt": [n]})
    def close(self):
        pass

schema = StructType([StructField("user_id", LongType()),
                     StructField("v", DoubleType())])
src_dir = tempfile.mkdtemp()
ckpt = tempfile.mkdtemp()

collected = []

def run(qname):
    # the memory sink refuses checkpoint recovery; foreachBatch is the
    # recoverable collection path
    collected.clear()
    src = spark.readStream.schema(schema).json(src_dir)
    out = src.groupBy("user_id").transformWithStateInPandas(
        RunningCount(), outputStructType=OUT, outputMode="Update",
        timeMode="None")

    def sink(batch_df, batch_id):
        collected.extend(tuple(r) for r in batch_df.collect())

    q = (out.writeStream.foreachBatch(sink)
         .outputMode("update").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    assert q.awaitTermination(540), "streaming query did not finish in 540s"
    return sorted(collected)

pd.DataFrame([{"user_id": 1, "v": 1.0}, {"user_id": 1, "v": 2.0},
              {"user_id": 2, "v": 3.0}]).to_json(
    f"{src_dir}/b0.json", orient="records", lines=True)
r1 = run("tws_run1")

pd.DataFrame([{"user_id": 1, "v": 4.0}, {"user_id": 3, "v": 5.0}]).to_json(
    f"{src_dir}/b1.json", orient="records", lines=True)
r2 = run("tws_run2")
print("RESULT:" + json.dumps([r1, r2]))
"""


@pytest.mark.skipif(
    protobuf_pythonpath() is None,
    reason="no protobuf runtime available for the TWS worker",
)
def test_tws_state_survives_checkpoint_restart():
    """F1-F6 on the first-class API: a second query started on the
    same checkpoint must (a) resume the ValueState — user 1's count
    continues at 3, not 1 — and (b) skip the already-consumed input —
    user 2 produces NO row in the second run."""
    env = dict(os.environ)
    env.update(tws_env(protobuf_pythonpath()))
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART_SCRIPT, REPO],
        capture_output=True,
        text=True,
        timeout=900,
        env=env,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("RESULT:")]
    assert line, proc.stdout[-2000:]
    r1, r2 = json.loads(line[0][len("RESULT:"):])
    assert [tuple(r) for r in r1] == [(1, 2), (2, 1)]
    assert [tuple(r) for r in r2] == [(1, 3), (3, 1)]


def test_tws_gate_query_is_repeatable_in_one_session(spark, sf_dir):
    """The driver may invoke a catalog entry more than once on the
    same session (smoke + gate). The TWS queries mutate session state
    (ensure_tws_runtime, provider conf, replay tempdirs, memory-sink
    names) — a second invocation must return the identical result and
    leave the provider conf restored."""
    import pytest

    from flink_scala_spark.queries.catalog import QUERIES
    from flink_scala_spark.streaming.tws import protobuf_pythonpath

    if protobuf_pythonpath() is None:
        pytest.skip("no protobuf runtime for TWS workers")
    fn = QUERIES["streaming_rising_alarm_tws"].fn
    r1 = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    r2 = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    assert r1 == r2 and len(r1) > 0
    assert (
        spark.conf.get("spark.sql.streaming.stateStore.providerClass", "unset")
        != "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )


def test_tws_session_restores_provider_when_body_raises(spark):
    """tws_session only unlocks the TWS runtime: the shared session's
    provider is the same inside its block and after it, also when the
    body raises (the runner sets RocksDB around each TWS start only)."""
    from flink_scala_spark.streaming.tws import PROVIDER_CONF, tws_session

    if protobuf_pythonpath() is None:
        pytest.skip("no protobuf runtime for TWS workers")
    prev = spark.conf.get(PROVIDER_CONF, None)
    with pytest.raises(ZeroDivisionError):
        with tws_session(spark):
            assert spark.conf.get(PROVIDER_CONF, None) == prev
            1 / 0
    assert spark.conf.get(PROVIDER_CONF, None) == prev


_FIRE_PURGE_RESTART_SCRIPT = r"""
import json, sys, tempfile
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

sys.path.insert(0, sys.argv[1])
from flink_scala_spark.streaming.tws import ROCKSDB_PROVIDER, fire_purge_tws

spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

schema = StructType([StructField("user_id", LongType()),
                     StructField("event_id", LongType()),
                     StructField("ts_s", LongType()),
                     StructField("value", DoubleType())])
src_dir = tempfile.mkdtemp()
ckpt = tempfile.mkdtemp()

collected = []

def run():
    collected.clear()
    src = (spark.readStream.schema(schema).json(src_dir)
           .withColumn("ts", F.timestamp_seconds("ts_s")))
    out = fire_purge_tws(src, window_seconds=100, fire_count=3,
                         evict_below=0.5)

    def sink(batch_df, batch_id):
        collected.extend(tuple(r) for r in batch_df.collect())

    q = (out.writeStream.foreachBatch(sink)
         .outputMode("append").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    assert q.awaitTermination(540), "streaming query did not finish in 540s"
    return sorted(collected)

rows1 = [{"user_id": 1, "event_id": i, "ts_s": 10 * (i + 1), "value": 1.0}
         for i in range(4)]  # ts 10,20,30,40 — window [0,100)
pd.DataFrame(rows1).to_json(f"{src_dir}/b0.json", orient="records", lines=True)
r1 = run()

rows2 = [{"user_id": 1, "event_id": 10, "ts_s": 50, "value": 1.0},
         {"user_id": 1, "event_id": 11, "ts_s": 60, "value": 1.0},
         {"user_id": 2, "event_id": 12, "ts_s": 250, "value": 1.0}]
pd.DataFrame(rows2).to_json(f"{src_dir}/b1.json", orient="records", lines=True)
r2 = run()
print("RESULT:" + json.dumps([r1, r2]))
"""


@pytest.mark.skipif(
    protobuf_pythonpath() is None,
    reason="no protobuf runtime available for the TWS worker",
)
def test_fire_purge_state_survives_checkpoint_restart():
    """F1-F6 on the FIRE_AND_PURGE processor: run 1 fires one complete
    count-group (3 of 4 rows) and leaves ONE row buffered in MapState.
    A second query on the same checkpoint gets only 2 new same-window
    rows — it can only fire again if the buffered row was RESUMED
    (1+2=3), must not re-emit run 1's fire (input skipped), and the
    window-end timer that the new data's watermark releases finds the
    purged-empty buffer and emits nothing."""
    env = dict(os.environ)
    env.update(tws_env(protobuf_pythonpath()))
    proc = subprocess.run(
        [sys.executable, "-c", _FIRE_PURGE_RESTART_SCRIPT, REPO],
        capture_output=True,
        text=True,
        timeout=900,
        env=env,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("RESULT:")]
    assert line, proc.stdout[-2000:]
    r1, r2 = json.loads(line[0][len("RESULT:"):])
    assert [tuple(r) for r in r1] == [(1, 0, 0, 3, 300, "count")]
    assert [tuple(r) for r in r2] == [(1, 0, 1, 3, 300, "count")]


_PTIME_SCRIPT = r"""
import json, sys, tempfile, time
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, LongType, StructField, StructType)

sys.path.insert(0, sys.argv[1])
from flink_scala_spark.streaming.tws import (ROCKSDB_PROVIDER,
                                             rising_alarm_ptime_tws)

spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

# ONE microbatch (single file), so every key's pending-timer decision
# is its in-batch fold's FINAL state — wall-clock only picks the fire
# INSTANT, never the output content:
#  - user 1 rises monotonically -> timer registered at first rise,
#    never deleted -> must fire exactly once (streak from ts=110,
#    n_rising=3 at registration batch end).
#  - user 2 rises (timer) then FALLS in the same batch -> deleteTimer
#    -> must NEVER fire.
#  - user 3 falls then rises at the end -> pending timer from the
#    final streak (start ts=140, n_rising=1) -> fires once.
ROWS = [  # ts, user, value
    (100, 1, 1.0), (110, 1, 2.0), (120, 1, 3.0), (130, 1, 4.0),
    (100, 2, 5.0), (110, 2, 6.0), (140, 2, 1.0),
    (100, 3, 9.0), (120, 3, 3.0), (140, 3, 7.0),
]
d = tempfile.mkdtemp()
pd.DataFrame(
    [{"event_id": j, "ts": ts, "user_id": u, "value": v}
     for j, (ts, u, v) in enumerate(ROWS)]
).to_json(f"{d}/b0.json", orient="records", lines=True)

schema = StructType([
    StructField("event_id", LongType()),
    StructField("ts", LongType()),
    StructField("user_id", LongType()),
    StructField("value", DoubleType()),
])
src = (
    spark.readStream.schema(schema)
    .json(d)
    .withColumn("ts", F.timestamp_seconds("ts"))
)
alarms = rising_alarm_ptime_tws(src, hold_seconds=2)
# default ASAP trigger: Spark keeps running (empty) microbatches while
# processing-time timers are pending, which is exactly what lets the
# +2s wall-clock expiries fire after the single data batch drains.
q = (
    alarms.writeStream.format("memory").queryName("ptime_alarms")
    .outputMode("append").start()
)
# NOTE: processAllAvailable would NEVER return here — with pending
# processing-time timers the engine always has another batch scheduled
# (measured: the first draft of this test hung in it) — so the sink is
# purely POLLED until the expected alarms land.
expected = {(1, 110, 3), (3, 140, 1)}
deadline = time.time() + 300
got = set()
while time.time() < deadline:
    time.sleep(1)
    got = {tuple(r) for r in spark.table("ptime_alarms").collect()}
    if got >= expected:
        break
# grace window: user 2's deleted timer must stay silent, and no timer
# may fire twice
time.sleep(4)
final = sorted(tuple(r) for r in spark.table("ptime_alarms").collect())
q.stop()
print("RESULT:" + json.dumps(final))
"""


@pytest.mark.skipif(
    protobuf_pythonpath() is None,
    reason="no protobuf runtime available for the TWS worker",
)
def test_rising_alarm_processing_time_timers():
    """The reference's LITERAL wall-clock timer form
    (ProcessAlarmTest.scala:90-100: +10s processing-time timer,
    delete-on-fall, emit from onTimer) on TimeMode=ProcessingTime —
    deterministic in OUTPUT (only the fire instant is wall-clock):
    always-rising keys fire exactly once with event-time-derived
    payloads, a delete-on-fall key never fires."""
    env = dict(os.environ)
    env.update(tws_env(protobuf_pythonpath()))
    proc = subprocess.run(
        [sys.executable, "-c", _PTIME_SCRIPT, REPO],
        capture_output=True,
        text=True,
        timeout=900,
        env=env,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("RESULT:")]
    assert line, proc.stdout[-2000:]
    got = [tuple(r) for r in json.loads(line[0][len("RESULT:"):])]
    assert got == [(1, 110, 3), (3, 140, 1)]


_OOO_SESSION_SCRIPT = r"""
import json, sys, tempfile
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, LongType, StructField, StructType)

sys.path.insert(0, sys.argv[1])
from flink_scala_spark.streaming.tws import ROCKSDB_PROVIDER, session_gap_tws

spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

# Out-of-order arrival WITHIN the 1 s watermark delay: batch 1 ends at
# ts=101.2 (wm -> 100.2); batch 2's row at ts=100.5 is ADMITTED (ts >
# wm) but truncates to ts_l=100 < the stored last=101 — the session
# fold must treat it as min/max widening, never regress session_end
# (or re-arm the gap timer a second early). Batch 3 flushes the timer.
B1 = [(100.0, 1, 1.0), (101.2, 1, 2.0)]
B2 = [(100.5, 1, 3.0)]
B3 = [(1000.0, 2, 0.0)]

d = tempfile.mkdtemp()
import os as _os
import time as _time
_now = _time.time()
for i, batch in enumerate((B1, B2, B3)):
    rows = [
        {"event_id": j, "ts": ts, "user_id": u, "value": v}
        for j, (ts, u, v) in enumerate(batch)
    ]
    pd.DataFrame(rows).to_json(f"{d}/b{i}.json", orient="records", lines=True)
    _os.utime(f"{d}/b{i}.json", (_now + i, _now + i))

schema = StructType([
    StructField("event_id", LongType()),
    StructField("ts", DoubleType()),
    StructField("user_id", LongType()),
    StructField("value", DoubleType()),
])
src = (
    spark.readStream.schema(schema)
    .option("maxFilesPerTrigger", "1")
    .json(d)
    .withColumn("ts", F.timestamp_seconds("ts"))
)
sessions = session_gap_tws(src, gap_seconds=60)
q = (
    sessions.writeStream.format("memory").queryName("tws_ooo_sess")
    .outputMode("append").trigger(availableNow=True).start()
)
assert q.awaitTermination(540), "streaming query did not finish in 540s"
out = sorted(tuple(r) for r in spark.table("tws_ooo_sess").collect())
print("RESULT:" + json.dumps(out))
"""


def test_session_gap_out_of_order_batch_widens_not_regresses():
    """A second microbatch arriving out of order (inside the 1 s
    watermark delay) must WIDEN the session: session_end stays at the
    max timestamp already seen, not the late row's older one (which
    would also have re-armed the gap timer a second early)."""
    env = dict(os.environ)
    env.update(tws_env(protobuf_pythonpath()))
    proc = subprocess.run(
        [sys.executable, "-c", _OOO_SESSION_SCRIPT, REPO],
        capture_output=True,
        text=True,
        timeout=900,
        env=env,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("RESULT:")]
    assert line, proc.stdout[-2000:]
    got = [tuple(r) for r in json.loads(line[0][len("RESULT:"):])]
    # user 1: start=100 (min), end=101 (max, NOT regressed to 100),
    # 3 events; user 2's lone far-future row never closes (timer past
    # the final watermark).
    assert got == [[1, 100, 101, 3, 600]] or got == [(1, 100, 101, 3, 600)], got


_RECONCILE_SCRIPT = r"""
import json, sys, tempfile
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                               StructType)

sys.path.insert(0, sys.argv[1])
from flink_scala_spark.streaming.tws import (ROCKSDB_PROVIDER,
                                             two_stream_reconcile_tws)

spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

# GAP=200s; batch time ranges strictly increase (B1 <= 170 < 180 <= B2
# <= 210 < 900 <= B3) so nothing dies against the watermark.
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
B1 = [  # (eid, user, ts, side, value)
    (1, 1, 100, "pay", None), (2, 1, 120, "order", 2.5),
    (3, 1, 150, "order", 1.0), (4, 2, 130, "order", 9.99),
    (5, 3, 170, "pay", None),
    (12, 5, 160, "order", None),  # NULL-value purchase (NULL cents)
]
B2 = [
    (6, 1, 200, "pay", None), (7, 1, 210, "pay", None),
    (8, 4, 190, "order", 3.25), (9, 4, 195, "pay", None),
    (13, 5, 185, "pay", None),
]
B3 = [(10, 2, 900, "order", 7.0), (11, 3, 1000, "pay", None)]

d = tempfile.mkdtemp()
import os as _os
import time as _time

_now = _time.time()
for i, batch in enumerate((B1, B2, B3)):
    rows = [
        {"event_id": e, "user_id": u, "ts": ts, "side": s, "value": v}
        for e, u, ts, s, v in batch
    ]
    pd.DataFrame(rows).to_json(f"{d}/b{i}.json", orient="records", lines=True)
    _os.utime(f"{d}/b{i}.json", (_now + i, _now + i))

schema = StructType([
    StructField("event_id", LongType()),
    StructField("user_id", LongType()),
    StructField("ts", LongType()),
    StructField("side", StringType()),
    StructField("value", DoubleType()),
])
src = (
    spark.readStream.schema(schema)
    .option("maxFilesPerTrigger", "1")
    .json(d)
    .withColumn("ts", F.timestamp_seconds("ts"))
)
out = two_stream_reconcile_tws(src, gap_seconds=200)
q = (
    out.writeStream.format("memory").queryName("tws_rec")
    .outputMode("append").trigger(availableNow=True).start()
)
assert q.awaitTermination(540), "streaming query did not finish in 540s"
rows = sorted(tuple(r) for r in spark.table("tws_rec").collect())
print("RESULT:" + json.dumps(rows))
"""


@pytest.mark.skipif(
    protobuf_pythonpath() is None,
    reason="no protobuf runtime available for the TWS worker",
)
def test_two_stream_reconcile_first_class_state_and_timers():
    """The two-input co-processor (M3 stateful) on a hand-built
    scenario: cross-batch pending state, the payment-side counter
    surviving batches, one click matching several pending orders,
    same-batch matches, timer expiry off the final watermark, and a
    past-final-watermark order that never emits."""
    env = dict(os.environ)
    env.update(tws_env(protobuf_pythonpath()))
    proc = subprocess.run(
        [sys.executable, "-c", _RECONCILE_SCRIPT, REPO],
        capture_output=True,
        text=True,
        timeout=900,
        env=env,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("RESULT:")]
    assert line, proc.stdout[-2000:]
    got = [tuple(r) for r in json.loads(line[0][len("RESULT:"):])]
    assert got == [
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

"""Run-to-completion helpers for bounded streaming twins.

The reference's demos read bounded inputs through the streaming env and
terminate (``WordCount2.scala:7`` notes auto-termination). Spark's
equivalent: drive a streaming query over a bounded file source to the
end of its input + memory sink, then read the result table.

Output-mode mapping (SURVEY.md §7.4):
- ``complete`` reproduces Flink's final window/agg contents even for
  windows the watermark never closed — right for bounded-replay
  correctness twins (state is not evicted; production unbounded runs
  use append/update where the watermark prunes state).
- ``update`` reproduces Flink's per-record running emission (A1-A3
  expected outputs in TransformTest.scala:38-52).
- ``append`` is for flatMap-style emissions (alarms, side outputs).
"""

from __future__ import annotations

import itertools
import math
import threading
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from flink_scala_spark.session import scoped_conf
from flink_scala_spark.streaming.tws import PROVIDER_CONF, ROCKSDB_PROVIDER

_counter = itertools.count()

#: A replay of ``ceil(bytes / 128 MB)`` partitions (guide §2.2: size
#: partitions by bytes, never by the local core count), floored at 4 so
#: per-partition state-store commits still overlap. Locally a 2 MB
#: replay commits 4 state stores per microbatch instead of 32 (TWS
#: alarm replay: 13-14 s -> 6.5-7 s warm, identical rows; stateful
#: results are partition-count independent, which the 1/3/17-partition
#: fuzz and the oracle sweep pin).
REPLAY_ADVISORY_BYTES = 128 * 1024 * 1024
REPLAY_MIN_PARTITIONS = 4

#: Seconds an ``availableNow`` run may take before it counts as hung.
TIMEOUT_S = 600

#: A query clones the session's conf when it starts and keeps its
#: shuffle partitioning and state-store provider from then on, so a
#: run's replay-sized ``spark.sql.shuffle.partitions`` and the RocksDB
#: provider of a ``transformWithState`` stream are set only around
#: ``start()``. Starts on one process are serialized, so an
#: overlapping run never reads another run's temporary value as the
#: one to put back.
_START_LOCK = threading.Lock()


@dataclass
class RunRecord:
    """What the bounded runs of one catalog entry leave behind."""

    #: largest replay input (bytes) noted by a source since the last run
    replay_bytes: int = 0
    #: shuffle partitions of the last run; None = the session default
    partitions: int | None = None
    #: microbatch input rows and microbatch count, summed over all runs
    input_rows: int = 0
    batches: int = 0
    #: executed physical plan of the last run — it only exists on a
    #: live query, so tests pin streaming plan shapes from here
    plan: str | None = None


#: Run records keyed by ``catalog.current_query()`` (None outside a
#: catalog entry). bench_streaming.py pops an entry's record before it
#: times the entry.
RUNS: dict[str | None, RunRecord] = {}


def record() -> RunRecord:
    """The run record of the catalog entry running on this thread."""
    from flink_scala_spark.queries import catalog

    return RUNS.setdefault(catalog.current_query(), RunRecord())


def replay_partitions(nbytes: int, par: int) -> int:
    """Shuffle partitions for a replay of ``nbytes`` on a session of
    parallelism ``par``: ``ceil(nbytes / 128 MB)``, at least
    ``min(4, par)``, at most ``par``."""
    return max(
        min(REPLAY_MIN_PARTITIONS, par),
        min(par, math.ceil(nbytes / REPLAY_ADVISORY_BYTES)),
    )


def _partitions(spark: SparkSession, nbytes: int) -> int | None:
    if not nbytes:
        return None  # no replay source (socket/rate streams)
    try:
        par = spark.sparkContext.defaultParallelism
    except Exception:
        return None  # Connect-style session: cannot probe, do not guess
    return replay_partitions(nbytes, par)


def _transforms_with_state(stream_df: DataFrame) -> bool:
    try:
        plan = stream_df._jdf.queryExecution().logical().toString()
    except Exception:
        return False  # no JVM handle (Connect-style session)
    return "TransformWithState" in plan


def _run(
    stream_df: DataFrame, output_mode: str, foreach=None, available_now=False
) -> DataFrame | None:
    """Size, start, wait for, record and stop one bounded run; return
    the memory-sink table, or None for a ``foreach`` sink."""
    spark = stream_df.sparkSession
    rec = record()
    nbytes, rec.replay_bytes = rec.replay_bytes, 0
    rec.partitions = _partitions(spark, nbytes)
    confs = {}
    if rec.partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(rec.partitions)
    if _transforms_with_state(stream_df):
        # the TWS runtime keeps its state only on RocksDB
        confs[PROVIDER_CONF] = ROCKSDB_PROVIDER
    name = f"fss_q{next(_counter)}"
    w = stream_df.writeStream.outputMode(output_mode).queryName(name)
    w = w.foreachBatch(foreach) if foreach else w.format("memory")
    if available_now:
        w = w.trigger(availableNow=True)
    with _START_LOCK, scoped_conf(spark, confs):
        q = w.start()
    try:
        if available_now:
            if not q.awaitTermination(TIMEOUT_S):
                # a hung query would return a silently truncated
                # table (timer emissions missing): fail loudly
                raise TimeoutError(f"query {name} did not finish in {TIMEOUT_S}s")
        else:
            q.processAllAvailable()
        progress = q.recentProgress
        rec.input_rows += sum(int(p["numInputRows"]) for p in progress)
        rec.batches += len(progress)
        try:
            rec.plan = q._jsq.explainInternal(False)
        except Exception:
            rec.plan = None  # no JVM handle (Connect-style session)
    finally:
        q.stop()
        q.awaitTermination(30)
    if foreach:
        return None
    out = spark.table(name)
    # the built frame keeps the sink's rows; the view would keep them
    # for the life of the session
    spark.catalog.dropTempView(name)
    return out


def run_bounded(stream_df: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Execute a bounded streaming plan until ``processAllAvailable``
    returns; return the final memory-sink table as a batch DataFrame."""
    return _run(stream_df, output_mode)


def run_bounded_now(stream_df: DataFrame, output_mode: str = "append") -> DataFrame:
    """Like :func:`run_bounded` but with ``trigger(availableNow=True)``.

    ``processAllAvailable`` only guarantees the SOURCE data is drained;
    it can stop the query before the trailing no-data microbatch that
    fires still-pending event-time TIMERS off the final watermark.
    ``availableNow`` termination includes that batch (measured: a timer
    whose expiry <= final watermark fires before the query ends), so
    timer-driven operators must run through this helper.
    """
    return _run(stream_df, output_mode, available_now=True)


def run_bounded_foreach(stream_df: DataFrame, fn, output_mode: str = "update") -> None:
    """Execute a bounded streaming plan through foreachBatch ``fn``."""
    _run(stream_df, output_mode, foreach=fn)

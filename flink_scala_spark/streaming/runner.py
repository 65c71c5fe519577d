"""Run-to-completion helpers for bounded streaming twins.

The reference's demos read bounded inputs through the streaming env and
terminate (``WordCount2.scala:7`` notes auto-termination). Spark's
equivalent: drive a streaming query over a bounded file source with
``processAllAvailable`` + memory sink, then read the result table.

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
import os

from pyspark.sql import DataFrame, SparkSession

_counter = itertools.count()

#: Replay-input sizes (bytes) recorded by the bounded file-replay
#: sources since the last bounded run (sources.py calls
#: :func:`note_replay_input` when it hands out a replay stream). The
#: bounded runners consume them to size shuffle/state partitions for
#: the replay from its INPUT SIZE (guide §2.2: size partitions by
#: bytes — 100 MB-1 GB each — never a constant tuned for the local
#: core count): ``ceil(bytes / 128 MB)``, floored at a small constant
#: (4) so per-partition state-store commit latency still overlaps,
#: and capped at the session's parallelism. Locally that turns a
#: 2 MB replay's 32 one-row state-store commits per microbatch into
#: 4 (measured on the TWS alarm replay: 13-14 s -> 6.5-7 s warm,
#: identical output rows — stateful results are partition-count
#: independent, which the 1/3/17-partition fuzz and the sf0.001
#: oracle sweep already pin); at production volumes the bytes term
#: dominates and the count grows to the parallelism cap. Deployments
#: with bigger state than bytes (wide aggregations) override with
#: $SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS.
_PENDING_REPLAY_BYTES: list[int] = []

#: Guards the pending-hint list (round-12 ADVICE): list append/snapshot
#: is not atomic enough under concurrent source builds + runs, and the
#: consume must be read-and-clear in one step. The remaining envelope
#: is documented on :func:`note_replay_input`: hints are a build-time →
#: run-time handoff, so a source built but never run leaves its hint
#: for the NEXT bounded run (one mis-sized run, then self-healed by
#: that run's clear; results are partition-count invariant — pinned by
#: the 1/3/17-partition fuzz — so this is perf-only), and when two
#: queries' sources are built before the first runs, the first run
#: sizes for both and the second falls back to the session default.
_PENDING_LOCK = __import__("threading").Lock()

REPLAY_ADVISORY_BYTES = 128 * 1024 * 1024
REPLAY_MIN_PARTITIONS = 4


def note_replay_input(nbytes: int) -> None:
    """Record a bounded replay source's input size for the next run.

    The handoff is intentionally positional (next bounded run consumes
    every pending hint): the sizing hint cannot be keyed to the
    DataFrame because queries run DERIVED frames (filters/selects over
    the source), and PySpark exposes no lineage walk back to the
    source object. See _PENDING_LOCK for the single-process envelope
    this leaves."""
    with _PENDING_LOCK:
        _PENDING_REPLAY_BYTES.append(int(nbytes))


def _replay_partitions(spark: SparkSession) -> str | None:
    """Partition count for the next bounded run, or None = leave the
    session conf alone (no replay source was built, e.g. socket/rate
    streams). Consumes (reads AND clears) the pending hints."""
    with _PENDING_LOCK:
        pending = list(_PENDING_REPLAY_BYTES)
        _PENDING_REPLAY_BYTES.clear()
    if not pending:
        return None
    env = os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS")
    if env:
        # tolerate junk values (round-12 ADVICE): fall back to the
        # byte-derived sizing instead of crashing the bounded run
        try:
            return str(max(1, int(env)))
        except ValueError:
            import sys

            print(
                f"# SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS={env!r} is not "
                "an int; using byte-derived replay sizing",
                file=sys.stderr,
            )
    # max, not sum: multi-source queries (two-stream reconcile) size
    # for their largest side; both sides flow through the same union
    total = max(pending)
    try:
        par = spark.sparkContext.defaultParallelism
    except Exception:
        return None  # Connect-style session: cannot probe, do not guess
    n = max(
        min(REPLAY_MIN_PARTITIONS, par),
        min(par, math.ceil(total / REPLAY_ADVISORY_BYTES)),
    )
    return str(n)


class _replay_sized_partitions:
    """Set shuffle partitions for one bounded run; restore after.

    Restoring matters: the driver gate and bench share one session
    across streaming AND batch queries, so the replay sizing must not
    leak into the next batch plan."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.prev: str | None = None
        self.target = _replay_partitions(spark)

    def __enter__(self):
        if self.target is not None:
            try:
                self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
                self.spark.conf.set("spark.sql.shuffle.partitions", self.target)
            except Exception:
                self.prev = None
        return self

    def __exit__(self, *exc):
        # hints were consumed (read-and-cleared) by _replay_partitions
        # at construction; clearing again here would destroy hints a
        # source built for the NEXT run in the meantime
        if self.prev is not None:
            try:
                self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)
            except Exception:
                pass
        return False

#: Executed physical plan of each query's most recent bounded run, by
#: query name — captured so tests can pin streaming plan
#: shapes (state-store operator counts, join strategies) without
#: re-running the query. The streaming executedPlan only exists on a
#: LIVE query object, so this capture is the one chance to see it.
LAST_PLANS: dict[str, str] = {}

#: Accumulated replay statistics per catalog query name — input rows
#: and microbatch counts summed over every bounded run a catalog entry
#: performs (some entries drive several). bench_streaming.py clears
#: this between queries to compute replay throughput (rows/s).
REPLAY_STATS: dict[str, dict[str, int]] = {}


def _capture_plan(q, name: str) -> None:
    from flink_scala_spark.queries import catalog

    key = catalog.current_query() or name
    try:
        progress = q.recentProgress
        stats = REPLAY_STATS.setdefault(key, {"input_rows": 0, "batches": 0})
        stats["input_rows"] += sum(int(p["numInputRows"]) for p in progress)
        stats["batches"] += len(progress)
    except Exception:
        pass
    try:
        plan = q._jsq.explainInternal(False)
    except Exception:
        return
    LAST_PLANS[key] = plan


def _widen_progress_buffer(spark) -> None:
    """REPLAY_STATS sums over q.recentProgress, which Spark caps at
    spark.sql.streaming.numRecentProgressUpdates entries (default 100)
    — a replay longer than 100 microbatches would silently undercount
    input_rows/batches and inflate bench_streaming's rows/s. Widen the
    buffer far past any shipped replay (sf0.1 time-bucket replays run
    well under 1k batches)."""
    try:
        cur = int(spark.conf.get("spark.sql.streaming.numRecentProgressUpdates"))
    except Exception:
        cur = 100
    if cur < 10_000:
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")


def run_bounded(
    stream_df: DataFrame, output_mode: str = "complete", query_name: str | None = None
) -> DataFrame:
    """Execute a bounded streaming plan to completion; return the final
    memory-sink table as a batch DataFrame."""
    spark = stream_df.sparkSession
    _widen_progress_buffer(spark)
    name = query_name or f"fss_q{next(_counter)}"
    with _replay_sized_partitions(spark):
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
            _capture_plan(q, name)
        finally:
            q.stop()
            q.awaitTermination(30)
    return spark.table(name)


def run_bounded_now(
    stream_df: DataFrame,
    output_mode: str = "append",
    query_name: str | None = None,
    timeout: int = 600,
) -> DataFrame:
    """Like :func:`run_bounded` but with ``trigger(availableNow=True)``.

    ``processAllAvailable`` only guarantees the SOURCE data is drained;
    it can stop the query before the trailing no-data microbatch that
    fires still-pending event-time TIMERS off the final watermark.
    ``availableNow`` termination includes that batch (measured: a timer
    whose expiry <= final watermark fires before the query ends), so
    timer-driven operators must run through this helper.
    """
    spark = stream_df.sparkSession
    _widen_progress_buffer(spark)
    name = query_name or f"fss_q{next(_counter)}"
    with _replay_sized_partitions(spark):
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        try:
            finished = q.awaitTermination(timeout)
            if not finished:
                # A hung query would otherwise return a silently-truncated
                # memory table (timer emissions missing) — fail loudly.
                raise TimeoutError(f"query {name} did not finish in {timeout}s")
            _capture_plan(q, name)
        finally:
            q.stop()
            q.awaitTermination(30)
    return spark.table(name)


def run_bounded_foreach(stream_df: DataFrame, fn, output_mode: str = "update") -> None:
    """Execute a bounded streaming plan through foreachBatch ``fn``."""
    with _replay_sized_partitions(stream_df.sparkSession):
        q = stream_df.writeStream.outputMode(output_mode).foreachBatch(fn).start()
        try:
            q.processAllAvailable()
            _capture_plan(q, q.name or "foreach")
        finally:
            q.stop()
            q.awaitTermination(30)

"""Event-time windows — tumbling / sliding / offset / global / session,
window metadata, and late-data accounting.

Mirrors SURVEY.md §2.5 (W1-W10). The batch twins below run ``window()``
over static frames (identical semantics to the streaming path — Spark's
unified API); streaming twins live in ``flink_scala_spark.streaming``.

- W4 tumbling (``hk/windowTest/WindowTest.scala:67-74``): keyed 2 s
  windows with ``minBy``; generalized here to any agg.
- W6 offset day windows (``TestUtcTime.scala:42,50``): 1-day windows
  shifted 16 h = local midnight in UTC+8; Spark's ``startTime`` is
  exactly Flink's window offset.
- W7 windowAll (``TestUtcTime.scala:42``): no key — Spark handles this
  without Flink's parallelism-1 penalty (partial aggs are distributed,
  the final combine is one small reduce).
- W9 evictor-as-filter (``TestTriggerAndEvictor.scala:122-139``): the
  reference's evictor drops ``timestamp <= 0`` rows pre-aggregation —
  a plain pushed-down filter here.
- W10 ProcessWindowFunction metadata
  (``TestTriggerAndEvictor.scala:141-156``): ``window().start/end``
  are just the ``window`` struct's fields.
- W5 allowedLateness/sideOutputLateData (``WindowTest.scala:71-72``):
  Spark has a single watermark knob; the batch-twin accounting below
  classifies each row against the running watermark (max event time
  seen so far in arrival order minus delay), exactly the Flink
  late-data definition, so the late side-channel is a filter.

Scale notes: tumbling/offset windows are plain hash aggs on
(window, key) — one shuffle, partial aggregation, state pruned by
watermark in streaming. Sliding windows multiply rows by
size/slide assignments (Spark expands assignments internally);
keep size/slide ratios modest at scale. The late-data running max uses
an arrival-ordered window — at 100 TB arrival order only makes sense
per partition/shard, which is how we define it (order column).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flink_scala_spark.functions.portable import epoch_seconds


def tumbling_agg(
    df: DataFrame,
    ts_col: str,
    size: str,
    keys: list[str],
    aggs: list[Column],
    start_time: str | None = None,
) -> DataFrame:
    """W4/W6/W7: tumbling window aggregation, optional offset, optional
    keys (empty ``keys`` = windowAll).

    Output carries ``window_start``/``window_end`` (W10 metadata) as
    epoch seconds — timezone-proof for cross-engine comparison.
    """
    win = (
        F.window(F.col(ts_col), size, startTime=start_time)
        if start_time
        else F.window(F.col(ts_col), size)
    )
    out = df.groupBy(win.alias("w"), *[F.col(k) for k in keys]).agg(*aggs)
    return out.select(
        F.unix_timestamp("w.start").alias("window_start"),
        F.unix_timestamp("w.end").alias("window_end"),
        *keys,
        *[c for c in out.columns if c not in ("w", *keys)],
    )


def sliding_agg(
    df: DataFrame, ts_col: str, size: str, slide: str, keys: list[str], aggs: list[Column]
) -> DataFrame:
    """Sliding (hopping) windows — each row lands in size/slide windows.

    The reference only demos tumbling, but sliding is in its window
    taxonomy comment (WindowTest.scala:62); included as first-class.
    """
    win = F.window(F.col(ts_col), size, slide)
    out = df.groupBy(win.alias("w"), *[F.col(k) for k in keys]).agg(*aggs)
    return out.select(
        F.unix_timestamp("w.start").alias("window_start"),
        *keys,
        *[c for c in out.columns if c not in ("w", *keys)],
    )


def session_agg(
    df: DataFrame, ts_col: str, gap_seconds: int, key: str, aggs: list[Column]
) -> DataFrame:
    """Session windows, batch twin: gaps-and-islands.

    A new session starts when the gap from the previous event of the
    same key exceeds ``gap_seconds``; expressed as lag + conditional
    cumsum — one shuffle on the key, per-key sort, no UDF. The
    streaming twin uses ``F.session_window`` (streaming module).
    """
    w = Window.partitionBy(key).orderBy(ts_col)
    gap_flag = (
        F.when(
            epoch_seconds(ts_col) - F.lag(epoch_seconds(ts_col)).over(w)
            > gap_seconds,
            1,
        )
        .otherwise(0)
    )
    sessions = df.withColumn("_new", gap_flag).withColumn(
        "session_id", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        sessions.groupBy(key, "session_id")
        .agg(
            F.min(epoch_seconds(ts_col)).alias("session_start"),
            F.max(epoch_seconds(ts_col)).alias("session_end"),
            *aggs,
        )
    )


def per_element_fire(
    df: DataFrame, ts_col: str, window_seconds: int, key: str, value_col: str
) -> DataFrame:
    """W8 custom-trigger twin (TestTriggerAndEvictor.scala:84-107): the
    reference's ``UtcTrigger`` returns FIRE on every element, so a
    sum-aggregating window emits its running aggregate at each arrival.

    Batch twin: for every element, emit the window's state at that fire
    — fire_seq (how many elements the window had) and the running sum —
    via a per-(key, window) ordered frame. One shuffle on (key, window),
    one in-partition sort; no per-window custom code paths, which is
    exactly how Structured Streaming's update mode re-expresses
    per-element firing (SURVEY.md §7.4).
    """
    ts_l = epoch_seconds(ts_col)
    win_start = (F.floor(ts_l / window_seconds) * window_seconds).cast("long")
    base = df.withColumn("window_start", win_start)
    w = Window.partitionBy("window_start", key).orderBy(ts_l, "event_id")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return base.select(
        "window_start",
        F.col(key),
        F.col("event_id"),
        F.row_number().over(w).alias("fire_seq"),
        F.round(F.sum(F.col(value_col)).over(frame), 2).alias("running_total"),
    )


def classify_late(
    df: DataFrame,
    ts_col: str,
    order_col: str,
    delay_seconds: int,
    lateness_seconds: int,
    chunk_size: int = 8192,
) -> DataFrame:
    """W5 batch twin: classify rows against the running watermark.

    Watermark after k rows (arrival order = ``order_col``) = max event
    time among rows 1..k minus ``delay_seconds``. A row is ``on_time``
    if ts >= watermark, ``late`` if within ``lateness_seconds`` below
    (Flink re-fires the window), else ``dropped`` (Flink side-outputs
    it; WindowTest.scala:71-72).

    The prefix-max is a global-order scan, but NOT a single-partition
    window: it distributes as the classic two-phase prefix scan —
    (1) running max WITHIN each ``chunk_size`` block of the order key
    (shuffled by chunk, parallel), (2) running max OVER the per-chunk
    maxima (a single partition of n/chunk_size rows — thousands of
    chunks per billion rows), broadcast back. A row's watermark is the
    max of its chunk-prefix and all prior chunks' cumulative max.

    ``order_col`` MUST be an integral column (the chunk id is its
    integer division by ``chunk_size``): a non-numeric order key would
    cast to NULL under non-ANSI mode and the chunk equi-join would
    silently drop every row, so the type is checked eagerly. For a
    non-numeric arrival key, derive a dense integral sequence first
    (e.g. ``row_number`` over the intended order).
    """
    order_type = dict(df.dtypes).get(order_col)
    if order_type not in {"tinyint", "smallint", "int", "bigint"}:
        raise TypeError(
            f"classify_late requires an integral order_col; got "
            f"{order_col!r}: {order_type!r}. Derive a dense integer "
            f"arrival sequence (row_number) first."
        )
    ts_l = epoch_seconds(ts_col)
    chunk = F.expr(f"CAST({order_col} AS BIGINT) div {chunk_size}").alias("_chunk")
    base = df.withColumn("_chunk", chunk).withColumn("_ts_l", ts_l)
    win = Window.partitionBy("_chunk").orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    within_prev = F.max("_ts_l").over(win)
    chunk_maxes = base.groupBy("_chunk").agg(F.max("_ts_l").alias("_cmax"))
    wprev = Window.orderBy("_chunk").rowsBetween(Window.unboundedPreceding, -1)
    prior = chunk_maxes.select(
        "_chunk", F.max("_cmax").over(wprev).alias("_prior_max")
    )
    joined = base.withColumn("_within_prev", within_prev).join(
        F.broadcast(prior), "_chunk"
    )
    # greatest() ignores NULLs (NULL only when both are), so the first
    # row of the first chunk gets a NULL watermark -> on_time.
    prefix_max = F.greatest("_within_prev", "_prior_max")
    wm = prefix_max - F.lit(delay_seconds)
    return (
        joined.withColumn(
            "lateness",
            F.when(wm.isNull() | (F.col("_ts_l") >= wm), F.lit("on_time"))
            .when(F.col("_ts_l") >= wm - F.lit(lateness_seconds), F.lit("late"))
            .otherwise(F.lit("dropped")),
        )
        .drop("_chunk", "_ts_l", "_within_prev", "_prior_max")
    )


def count_window_agg(
    df: DataFrame,
    ts_col: str,
    order_col: str,
    size: int,
    key: str,
    aggs: list[Column],
) -> DataFrame:
    """Keyed COUNT window (the third window family of the reference's
    taxonomy, WindowTest.scala:62 / StateTest.scala:48 — tumbling /
    sliding / count): every ``size`` records per key close a window.

    Batch twin: deterministic per-key sequence number ((ts, order_col)
    order) integer-divided by ``size`` — one shuffle on the key, one
    in-partition sort, then a map-side-combinable agg on
    (key, window_seq). The streaming equivalent is a counting
    ValueState that emits and resets at ``size`` (same state shape as
    stateful.delta_alarm)."""
    w = Window.partitionBy(key).orderBy(ts_col, order_col)
    seq = ((F.row_number().over(w) - 1) / size).cast("long").alias("window_seq")
    base = df.withColumn("window_seq", seq)
    return base.groupBy(key, "window_seq").agg(
        F.count("*").alias("cnt"), *aggs
    )


def sliding_count_window_agg(
    df: DataFrame,
    ts_col: str,
    order_col: str,
    size: int,
    slide: int,
    key: str,
    aggs_over,
) -> DataFrame:
    """Keyed sliding COUNT window (Flink ``countWindow(size, slide)``):
    every ``slide``-th record per key emits an aggregate over the last
    ``size`` records.

    Batch twin: one per-key ordered frame ``rowsBetween(-size+1, 0)``
    evaluated at every row, emitted only where ``seq % slide == 0`` —
    the same single shuffle + in-partition sort as the tumbling count
    window; the frame never materializes more than ``size`` rows per
    evaluation."""
    w = Window.partitionBy(key).orderBy(ts_col, order_col)
    frame = w.rowsBetween(-(size - 1), Window.currentRow)
    seq = F.row_number().over(w)
    base = df.withColumn("_seq", seq)
    cols = [key, F.col("_seq").cast("long").alias("fire_seq")] + [
        expr(frame) for expr in aggs_over
    ]
    return base.select(*cols).where((F.col("fire_seq") % slide) == 0)

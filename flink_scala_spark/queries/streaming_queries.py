"""Streaming twins in the query catalog.

Each entry replays a bounded parquet table through a real
``readStream`` pipeline (Structured Streaming: watermark, state store,
microbatches) and returns the final result as a batch DataFrame, so the
driver's DuckDB oracle can check end-state correctness — the strategy
SURVEY.md §5 prescribes for streaming semantics.

Output modes per SURVEY.md §7.4: ``complete`` for windowed/keyed aggs
(matches Flink's final window contents on bounded input), ``append``
for stateful flatMap-style emissions (alarms).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_scala_spark.functions.portable import epoch_seconds
from flink_scala_spark.queries.catalog import register
from flink_scala_spark.streaming import sources, stateful
from flink_scala_spark.streaming.runner import run_bounded


@register(
    "streaming_tumbling_counts",
    """
    SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS window_start,
           event_type,
           count(*) AS cnt,
           round(sum(value), 2) AS total
    FROM events GROUP BY 1, 2
    """,
    "W1", "W2", "W4", "streaming",
)
def q_streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WindowTest.scala:67-74 as a live Structured Streaming run:
    watermarked event time (W2's 1 s out-of-orderness bound scaled to
    1 min) + keyed tumbling windows."""
    ev = sources.file_replay(spark, sf_dir, "events")
    agg = (
        ev.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("total"))
    )
    out = run_bounded(agg, "complete")
    return out.select(
        F.unix_timestamp("w.start").alias("window_start"), "event_type", "cnt", "total"
    )


@register(
    "streaming_keyed_sum",
    """
    SELECT user_id, round(sum(value), 2) AS total
    FROM events GROUP BY user_id
    """,
    "A1", "T4", "streaming",
)
def q_streaming_keyed_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StreamWordCount-style running keyed aggregate, final state."""
    ev = sources.file_replay(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(F.round(F.sum("value"), 2).alias("total"))
    return run_bounded(agg, "complete")


@register(
    "streaming_word_count",
    """
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
    WHERE word <> ''
    GROUP BY word
    """,
    "S2", "T2", "A1", "streaming",
)
def q_streaming_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordCount2.scala:23: bounded file through the streaming env."""
    docs = sources.file_replay(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split("text", " ")).alias("word")).filter(
        F.col("word") != ""
    )
    return run_bounded(words.groupBy("word").agg(F.count("*").alias("cnt")), "complete")


@register(
    "streaming_order_dashboard",
    """
    SELECT CAST(strftime(o_orderdate, '%Y%m%d') AS INT) AS order_day,
           count(*) AS total_num,
           round(sum(o_totalprice), 2) AS total_money
    FROM orders GROUP BY 1
    """,
    "A4", "flagship", "streaming",
)
def q_streaming_order_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship OrderAnalysy dashboard as a live Structured
    Streaming run (OrderAnalysy.scala:42-60): orders replayed through
    readStream, day-bucketed running totals maintained in the state
    store — final state checked against the batch oracle."""
    orders = sources.file_replay(spark, sf_dir, "orders")
    agg = (
        orders.groupBy(
            F.date_format("o_orderdate", "yyyyMMdd").cast("int").alias("order_day")
        )
        .agg(
            F.count("*").alias("total_num"),
            F.round(F.sum("o_totalprice"), 2).alias("total_money"),
        )
    )
    return run_bounded(agg, "complete")


@register(
    "streaming_session_windows",
    """
    WITH e AS (
        SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_l FROM events
    ), flagged AS (
        SELECT user_id, ts_l,
               CASE WHEN ts_l - lag(ts_l) OVER (PARTITION BY user_id ORDER BY ts_l)
                    > 600 THEN 1 ELSE 0 END AS new_session
        FROM e
    ), numbered AS (
        SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_l
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged
    )
    SELECT user_id, min(ts_l) AS session_start, max(ts_l) + 600 AS session_end,
           count(*) AS cnt
    FROM numbered GROUP BY user_id, sid
    """,
    "session", "streaming",
)
def q_streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows under live Structured Streaming
    (``F.session_window`` merges overlapping per-event windows in the
    state store; watermark drives eviction). Timestamps are truncated
    to whole seconds so the oracle's gaps-and-islands twin compares the
    same values; a gap of exactly 600 s still merges (Spark treats a
    touching window as part of the session), so splits need gap > 600 s.
    """
    ev = sources.file_replay(spark, sf_dir, "events").withColumn(
        "ts", F.timestamp_seconds(epoch_seconds("ts"))
    )
    agg = (
        ev.withWatermark("ts", "1 minute")
        .groupBy(F.session_window("ts", "600 seconds").alias("w"), "user_id")
        .agg(F.count("*").alias("cnt"))
    )
    out = run_bounded(agg, "complete")
    return out.select(
        "user_id",
        F.unix_timestamp("w.start").alias("session_start"),
        F.unix_timestamp("w.end").alias("session_end"),
        "cnt",
    )


@register(
    "streaming_interval_join",
    """
    SELECT e.event_id AS error_id, c.event_id AS click_id
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON e.user_id = c.user_id
     AND c.ts >= e.ts - INTERVAL 10 MINUTE
     AND c.ts <= e.ts
    """,
    "join", "interval", "streaming",
)
def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (SURVEY.md §2.4 extension), live:
    each error event joined to the same user's clicks in the preceding
    10 minutes. Both sides carry watermarks and the join condition
    bounds event-time distance, so Structured Streaming can size the
    join state and evict rows older than watermark - 10 min — the
    unbounded-state hazard of a plain stream-stream equi-join is
    designed out. Append mode emits each matched pair exactly once."""
    errors = (
        sources.file_replay(spark, sf_dir, "events")
        .where(F.col("event_type") == "error")
        .select(F.col("event_id").alias("error_id"), "user_id", F.col("ts").alias("e_ts"))
        .withWatermark("e_ts", "1 minute")
    )
    clicks = (
        sources.file_replay(spark, sf_dir, "events")
        .where(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"), F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 minute")
    )
    joined = errors.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("e_ts") - F.expr("interval 10 minutes"))
        & (F.col("c_ts") <= F.col("e_ts")),
        "inner",
    ).select("error_id", "click_id")
    return run_bounded(joined, "append")


@register(
    "streaming_delta_alarm",
    """
    SELECT user_id, event_id, round(prev, 2) AS prev_value, round(value, 2) AS curr_value
    FROM (
        SELECT user_id, event_id, value,
               lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events
    ) t WHERE abs(value - prev) > 10.0
    """,
    "ST1", "ST2", "ST3", "streaming",
)
def q_streaming_delta_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The StateTest alarm as a live keyed-state streaming run."""
    ev = sources.file_replay(spark, sf_dir, "events")
    return run_bounded(stateful.delta_alarm(ev, 10.0), "append")


_DELTA_TTL_BUCKET_S = 432_000  # 5-day replay buckets (~7 microbatches), shared with the TWS replay cache
_DELTA_TTL_HORIZON_S = 43_200  # 12 h idle-state TTL

# Oracle model for the TTL'd alarm: the replay delivers epoch-aligned
# 2-day buckets in time order, so during the batch that processes
# bucket k the watermark (delay 0, second-truncated timestamps) is the
# running max ts_l over buckets < k. A stored reading survives to be
# compared against iff its bucket is the current one (state written in
# this very invocation) or it is still inside the TTL horizon of that
# watermark; the lag() predecessor chain itself is unaffected by
# eviction because state always re-arms on every new reading.
_DELTA_TTL_ORACLE = f"""
    WITH ev AS (
        SELECT user_id, event_id, value,
               CAST(floor(epoch(ts)) AS BIGINT) AS ts_l,
               epoch_us(ts) // {_DELTA_TTL_BUCKET_S * 1_000_000} AS bucket
        FROM events
    ),
    bx AS (
        SELECT bucket,
               max(bmax) OVER (ORDER BY bucket
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING) AS wm_sec
        FROM (SELECT bucket, max(ts_l) AS bmax FROM ev GROUP BY 1) t
    ),
    lagged AS (
        SELECT e.*, b.wm_sec,
               lag(value) OVER w AS prev_value,
               lag(ts_l) OVER w AS prev_ts,
               lag(bucket) OVER w AS prev_bucket
        FROM ev e JOIN bx b USING (bucket)
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_l, event_id)
    )
    SELECT user_id, event_id,
           round(prev_value, 2) AS prev_value,
           round(value, 2) AS curr_value
    FROM lagged
    WHERE prev_value IS NOT NULL
      AND abs(value - prev_value) > 10.0
      AND (prev_bucket = bucket
           OR prev_ts >= wm_sec - {_DELTA_TTL_HORIZON_S})
"""


@register(
    "streaming_delta_alarm_ttl",
    _DELTA_TTL_ORACLE,
    "ST1", "ST2", "ST3", "streaming", "ttl",
)
def q_streaming_delta_alarm_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`streaming_delta_alarm` with BOUNDED per-key state — the Flink
    StateTtlConfig discipline applied to the reference's ValueState
    alarm (StateTest.scala:69-74): a key idle past the 12 h horizon
    loses its stored reading (EventTimeTimeout when idle, the same
    lazy cutoff when active), so an alarm only fires against a
    predecessor still inside the horizon — the drop vs the NoTimeout
    form (14 of 823 alarms at sf0.001 with 5-day buckets) keeps the
    oracle genuinely distinguishing the TTL semantics. Replayed as ~7
    time-ordered microbatches (shared
    with the TWS queries' replay cache) so the watermark climbs
    deterministically and both eviction paths actually execute."""
    ev = sources.file_replay_time_buckets(
        spark, sf_dir, "events", _DELTA_TTL_BUCKET_S
    )
    return run_bounded(
        stateful.delta_alarm_ttl(
            ev, 10.0, horizon_seconds=_DELTA_TTL_HORIZON_S
        ),
        "append",
    )


@register(
    "streaming_rising_alarm",
    """
    WITH ordered AS (
        SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_l, value,
               CASE WHEN value > lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    THEN 1 ELSE 0 END AS rising
        FROM events
    ), runs AS (
        SELECT *, sum(1 - rising) OVER (PARTITION BY user_id ORDER BY ts_l, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
        FROM ordered
    ), streaks AS (
        SELECT user_id, run_id, ts_l, event_id,
               min(ts_l) OVER (PARTITION BY user_id, run_id) AS streak_start,
               row_number() OVER (PARTITION BY user_id, run_id
                                  ORDER BY ts_l, event_id) AS n_rising
        FROM runs WHERE rising = 1
    ), fires AS (
        SELECT *, row_number() OVER (PARTITION BY user_id, run_id
                                     ORDER BY ts_l, event_id) AS fire_rank
        FROM streaks WHERE ts_l - streak_start >= 600
    )
    SELECT user_id, streak_start, ts_l AS streak_end, n_rising
    FROM fires WHERE fire_rank = 1
    """,
    "ST4", "streaming",
)
def q_streaming_rising_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ProcessAlarmTest's timer alarm (event-time twin), live run."""
    ev = sources.file_replay(spark, sf_dir, "events")
    return run_bounded(stateful.rising_alarm(ev, 600), "append")


@register(
    "streaming_dedup_events",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
    "streaming", "dedup",
)
def q_streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live streaming exact dedup: first arrival per (user_id,
    event_type) key wins, emitted once (append mode). dropDuplicates
    keeps one state-store row per distinct key — for the unbounded
    production case, bound the state with
    ``withWatermark + dropDuplicatesWithinWatermark`` (keys can then
    re-emit after the watermark passes; the global-dedup twin here has
    a stable DISTINCT oracle)."""
    ev = sources.file_replay(spark, sf_dir, "events")
    dd = ev.select("user_id", "event_type").dropDuplicates(["user_id", "event_type"])
    return run_bounded(dd, "append")


@register(
    "streaming_latest_event",
    """
    SELECT user_id, event_type,
           CAST(floor(epoch(ts)) AS BIGINT) AS last_ts,
           event_id AS last_event_id
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t
    WHERE rn = 1
    """,
    "streaming", "cdc",
)
def q_streaming_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X37's last-write-wins compaction as a LIVE streaming aggregate:
    max_by over (ts, event_id) per key in complete mode — the
    materialized-view shape an upsert sink (K6) keeps current. State
    is one row per key, updated in place each microbatch."""
    ev = sources.file_replay(spark, sf_dir, "events")
    newest = F.max_by(F.struct("ts", "event_id"), F.struct("ts", "event_id"))
    agg = ev.groupBy("user_id", "event_type").agg(newest.alias("r"))
    out = run_bounded(agg, "complete")
    return out.select(
        "user_id",
        "event_type",
        F.unix_timestamp("r.ts").alias("last_ts"),
        F.col("r.event_id").alias("last_event_id"),
    )


@register(
    "streaming_union_counts",
    """
    SELECT event_type, count(*) AS cnt FROM (
        SELECT event_type FROM events WHERE event_type = 'error'
        UNION ALL
        SELECT event_type FROM events WHERE value > 9.0
    ) t GROUP BY event_type
    """,
    "M2", "streaming",
)
def q_streaming_union_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 union (ConnectAndUnion.scala:43) live: two independently
    filtered streams over the same replayed source merge with
    unionByName before a keyed agg — Spark unions streaming plans
    exactly like batch plans (same-schema requirement, N-ary)."""
    errors = sources.file_replay(spark, sf_dir, "events").where(
        F.col("event_type") == "error"
    )
    hot = sources.file_replay(spark, sf_dir, "events").where(F.col("value") > 9.0)
    both = errors.select("event_type").unionByName(hot.select("event_type"))
    agg = both.groupBy("event_type").agg(F.count("*").alias("cnt"))
    return run_bounded(agg, "complete")


@register(
    "streaming_count_window",
    """
    SELECT user_id, window_seq, CAST(count(*) AS BIGINT) AS cnt,
           round(sum(value), 2) AS total
    FROM (SELECT user_id, value,
                 CAST((row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) - 1) // 10 AS BIGINT)
                     AS window_seq
          FROM events) t
    GROUP BY user_id, window_seq
    HAVING count(*) = 10
    """,
    "W4", "count-window", "streaming", "ST1",
)
def q_streaming_count_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live keyed count window: a counting ValueState emits + resets
    every 10th record per user (only completed windows emit — Flink's
    countWindow firing rule); the oracle is the batch count-window
    twin restricted to full windows."""
    ev = sources.file_replay(spark, sf_dir, "events")
    return run_bounded(stateful.count_window(ev, size=10), "append")


@register(
    "streaming_funnel",
    """
    WITH b AS (SELECT user_id, event_type,
                      CAST(floor(epoch(ts)) AS BIGINT) AS ts_l FROM events),
    m AS (SELECT user_id,
                 min(CASE WHEN event_type = 'view' THEN ts_l END) AS t0,
                 min(CASE WHEN event_type = 'click' THEN ts_l END) AS t1,
                 min(CASE WHEN event_type = 'purchase' THEN ts_l END) AS t2
          FROM b GROUP BY user_id),
    r1x AS (SELECT *, t0 AS r0,
                   CASE WHEN t0 IS NOT NULL AND t1 > t0 THEN t1 END AS r1
            FROM m),
    rx AS (SELECT *, CASE WHEN r1 IS NOT NULL AND t2 > r1 THEN t2 END AS r2
           FROM r1x),
    c AS (SELECT count(r0) AS c0, count(r1) AS c1, count(r2) AS c2 FROM rx)
    SELECT 0 AS step_idx, c0 AS users FROM c
    UNION ALL SELECT 1, c1 FROM c
    UNION ALL SELECT 2, c2 FROM c
    """,
    "behavior", "funnel", "streaming",
)
def q_streaming_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel live: the per-user earliest-step-time state runs as a
    streaming keyed aggregation (conditional mins — the heavy,
    unbounded-key state tier); the 3-row step rollup happens batch-side
    on the sink table, since Structured Streaming forbids chained
    aggregations in one query — the standard two-tier split."""
    ev = sources.file_replay(spark, sf_dir, "events")
    ts_l = epoch_seconds("ts")
    per_user = (
        ev.select("user_id", "event_type", ts_l.alias("ts_l"))
        .groupBy("user_id")
        .agg(
            *[
                F.min(F.when(F.col("event_type") == s, F.col("ts_l"))).alias(f"t{i}")
                for i, s in enumerate(("view", "click", "purchase"))
            ]
        )
    )
    snap = run_bounded(per_user, "complete")
    r1 = F.when(F.col("t0").isNotNull() & (F.col("t1") > F.col("t0")), F.col("t1"))
    snap = snap.withColumn("r1", r1)
    r2 = F.when(F.col("r1").isNotNull() & (F.col("t2") > F.col("r1")), F.col("t2"))
    counts = snap.withColumn("r2", r2).agg(
        F.count("t0").alias("c0"), F.count("r1").alias("c1"), F.count("r2").alias("c2")
    )
    rows = counts.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("step_idx"), F.col(f"c{i}").alias("users"))
                    for i in range(3)
                ]
            )
        ).alias("r")
    )
    return rows.select("r.step_idx", "r.users")


@register(
    "streaming_cohort_retention",
    """
    WITH ud AS (SELECT user_id,
                       CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS activity_day,
                       count(*) AS n
                FROM events GROUP BY 1, 2),
    f AS (SELECT user_id, min(activity_day) AS cohort_day FROM ud GROUP BY 1),
    cs AS (SELECT cohort_day, count(*) AS cohort_size FROM f GROUP BY 1),
    m AS (SELECT f.cohort_day, ud.activity_day, count(*) AS active_users
          FROM ud JOIN f USING (user_id) GROUP BY 1, 2)
    SELECT m.cohort_day, m.activity_day,
           CAST((m.activity_day - m.cohort_day) / 86400 AS INT) AS day_offset,
           m.active_users, cs.cohort_size,
           CAST(m.active_users AS DOUBLE) / CAST(cs.cohort_size AS DOUBLE) AS retention
    FROM m JOIN cs USING (cohort_day)
    """,
    "behavior", "cohort", "streaming",
)
def q_streaming_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention live: the unbounded-key tier (per-user distinct
    active-day sets via a streaming collect_set agg) runs under
    Structured Streaming; the days^2 rollup happens batch-side on the
    sink table — the same two-tier split as streaming_funnel."""
    ev = sources.file_replay(spark, sf_dir, "events")
    day = (F.floor(epoch_seconds("ts") / 86400) * 86400).cast("long")
    per_user = (
        ev.select("user_id", day.alias("activity_day"))
        .groupBy("user_id")
        .agg(F.collect_set("activity_day").alias("days"))
    )
    snap = run_bounded(per_user, "complete").select(
        "user_id", "days", F.array_min("days").alias("cohort_day")
    )
    cohort_sizes = snap.groupBy("cohort_day").agg(F.count("*").alias("cohort_size"))
    matrix = snap.select(
        "cohort_day", F.explode("days").alias("activity_day")
    ).groupBy("cohort_day", "activity_day").agg(F.count("*").alias("active_users"))
    return matrix.join(F.broadcast(cohort_sizes), "cohort_day").select(
        "cohort_day",
        "activity_day",
        ((F.col("activity_day") - F.col("cohort_day")) / 86400)
        .cast("int")
        .alias("day_offset"),
        "active_users",
        "cohort_size",
        (
            F.col("active_users").cast("double")
            / F.col("cohort_size").cast("double")
        ).alias("retention"),
    )


@register(
    "streaming_static_enrichment",
    """
    SELECT c.c_mktsegment AS segment, e.event_type,
           count(*) AS cnt, round(sum(e.value), 2) AS total
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
    "join", "stream-static", "streaming",
)
def q_streaming_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment (X87): the live event stream joined to
    a STATIC dimension table (customer) inside the streaming query —
    the canonical production pattern for attaching slowly-changing
    reference data to a firehose. The dim side is broadcast, so every
    microbatch enriches at scan speed with no stream-side shuffle
    before the keyed aggregation; Structured Streaming re-plans the
    static side per microbatch, which is exactly how dim refreshes
    propagate."""
    from flink_scala_spark import tables

    ev = sources.file_replay(spark, sf_dir, "events")
    cust = tables.load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    joined = ev.join(F.broadcast(cust), "user_id")
    agg = joined.groupBy("segment", "event_type").agg(
        F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("total")
    )
    return run_bounded(agg, "complete")


@register(
    "streaming_dedup_within_watermark",
    """
    SELECT event_id, user_id, event_type,
           CAST(floor(epoch(ts)) AS BIGINT) AS ts_l,
           round(value, 2) AS value
    FROM events
    """,
    "streaming", "dedup", "watermark",
)
def q_streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup: the event stream doubled (two
    replays unioned — every event arrives twice) and collapsed by
    ``dropDuplicatesWithinWatermark``, the production dedup operator
    whose per-key state EXPIRES once the watermark passes the event's
    time (plain dropDuplicates holds keys forever; X32's notes name
    this variant as the bounded-state path). The duplicate copies are
    byte-identical, so first-arrival-wins is deterministic and the
    oracle is simply the original table."""
    ev = sources.file_replay(spark, sf_dir, "events")
    doubled = ev.unionByName(sources.file_replay(spark, sf_dir, "events"))
    deduped = (
        doubled.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    out = run_bounded(deduped, "append")
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        epoch_seconds("ts").alias("ts_l"),
        F.round("value", 2).alias("value"),
    )


@register(
    "streaming_windowed_topk",
    """
    SELECT window_start, event_type, cnt, CAST(rank AS INT) AS rank FROM (
        SELECT window_start, event_type, cnt,
               row_number() OVER (PARTITION BY window_start
                                  ORDER BY cnt DESC, event_type) AS rank
        FROM (SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
                     event_type, count(*) AS cnt
              FROM events GROUP BY 1, 2) t
    ) t2 WHERE rank <= 3
    """,
    "streaming", "topk", "trending",
)
def q_streaming_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live trending top-k (X73's streaming twin): the hourly
    per-type counts run as a watermarked Structured Streaming window
    aggregation; the per-window top-3 rank happens batch-side on the
    final state (Structured Streaming forbids a window function over
    a streaming agg — the same two-tier split streaming_funnel uses).
    Same oracle as the batch windowed_topk_types."""
    from pyspark.sql import Window

    ev = sources.file_replay(spark, sf_dir, "events")
    agg = (
        ev.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
    )
    snap = run_bounded(agg, "complete").select(
        F.unix_timestamp("w.start").alias("window_start"), "event_type", "cnt"
    )
    w = Window.partitionBy("window_start").orderBy(F.desc("cnt"), F.asc("event_type"))
    return (
        snap.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("window_start", "event_type", "cnt", "rank")
    )


@register(
    "streaming_interval_join_outer",
    """
    WITH wm AS (
        SELECT least(
            (SELECT max(ts) FROM events WHERE event_type = 'error'),
            (SELECT max(ts) FROM events WHERE event_type = 'click')
        ) - INTERVAL 1 MINUTE AS w
    )
    SELECT e.event_id AS error_id, c.event_id AS click_id
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON e.user_id = c.user_id
     AND c.ts >= e.ts - INTERVAL 10 MINUTE
     AND c.ts <= e.ts
    WHERE c.event_id IS NOT NULL OR e.ts < (SELECT w FROM wm)
    """,
    "join", "interval", "outer", "streaming",
)
def q_streaming_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join, live: errors with no
    click in the preceding 10 minutes still emit — with a NULL click —
    once the watermark proves no match can arrive. This is the
    capability a plain inner stream-stream join lacks (the null row
    can only be emitted when state for the left row expires), and the
    classic source of silent data loss when watermarks are
    misconfigured.

    The oracle models the watermark semantics EXACTLY rather than
    pretending the stream fully drains: the global watermark is the
    MIN of the two inputs' (max event time - 1 min) watermarks, and
    an unmatched left row emits its null only if the watermark passed
    STRICTLY beyond its event time (eviction is exclusive at the
    boundary — verified empirically with a crafted at-the-watermark
    row) — so the very latest unmatched error(s) stay in state forever
    on a bounded replay (exactly what production operators observe as
    "the last rows never emit" until new data advances the watermark).
    Matched rows are unaffected."""
    errors = (
        sources.file_replay(spark, sf_dir, "events")
        .where(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            "user_id",
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "1 minute")
    )
    clicks = (
        sources.file_replay(spark, sf_dir, "events")
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 minute")
    )
    joined = errors.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("e_ts") - F.expr("interval 10 minutes"))
        & (F.col("c_ts") <= F.col("e_ts")),
        "left_outer",
    ).select("error_id", "click_id")
    return run_bounded(joined, "append")


from flink_scala_spark.pipeline.sampling import cms_oracle_sql  # noqa: E402


@register(
    "streaming_cms_heavy_hitters",
    cms_oracle_sql(),
    "streaming", "sketch", "cms",
)
def q_streaming_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch built LIVE (X104): the 4x1024 counter table is
    maintained as streaming state (one map-side-combinable groupBy
    over the replayed document stream — the sketch IS the state, fixed
    size no matter the stream length), then the heavy-hitter estimates
    are scored batch-side against the final counters (the same
    two-tier split as streaming_funnel). Counters and estimates are
    bit-identical to the batch twin, so the exact oracle is shared."""
    from flink_scala_spark import tables
    from flink_scala_spark.pipeline.sampling import cms_flat_cells

    stream_docs = sources.file_replay(spark, sf_dir, "documents")
    flat_s = cms_flat_cells(stream_docs)
    sketch = run_bounded(
        flat_s.groupBy("d", "col").agg(F.count("*").alias("cell_cnt")),
        "complete",
    )
    flat_b = cms_flat_cells(tables.load(spark, sf_dir, "documents"))
    exact = flat_b.where(F.col("d") == 0).groupBy("word").agg(
        F.count("*").alias("exact_cnt")
    )
    est = (
        flat_b.distinct()
        .join(F.broadcast(sketch), ["d", "col"])
        .groupBy("word")
        .agg(F.min("cell_cnt").alias("cms_cnt"))
    )
    return exact.join(est, "word").select("word", "exact_cnt", "cms_cnt")



from flink_scala_spark.queries.catalog import QUERIES as _CATALOG_QUERIES  # noqa: E402

#: identical result contract to the batch apply — share its oracle so
#: the two can never drift textually
CDC_APPLY_ORACLE = _CATALOG_QUERIES["cdc_apply_changelog"].oracle


@register(
    "streaming_cdc_apply",
    CDC_APPLY_ORACLE,  # identical result contract to the batch apply
    "streaming", "cdc",
)
def q_streaming_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The changelog apply LIVE: the per-key newest-op state is a
    streaming max_by aggregate (one state row per key, updated in
    place each microbatch — exactly the upsert-sink materialized
    view); the delete filter runs batch-side on the final state (the
    two-tier split: a key's liveness flips with every op, so filtering
    inside the stream would need retractions Structured Streaming
    doesn't emit)."""
    from flink_scala_spark.queries.catalog import _cdc_log

    ev = sources.file_replay(spark, sf_dir, "events")
    log = _cdc_log(ev)
    newest = F.max_by(
        F.struct("op", "ts", "value"),
        F.struct(F.col("ts"), F.col("event_id")),
    )
    agg = log.groupBy("user_id", "entity").agg(newest.alias("r"))
    out = run_bounded(agg, "complete")
    return out.where(F.col("r.op") == "U").select(
        "user_id",
        "entity",
        F.unix_timestamp("r.ts").alias("last_ts"),
        F.round("r.value", 2).alias("last_value"),
    )


#: identical result contract to the batch X101 interval build — share
#: its oracle so the live maintenance can never drift textually
SCD2_ORACLE = _CATALOG_QUERIES["scd2_history"].oracle


@register(
    "streaming_scd2_maintenance",
    SCD2_ORACLE,
    "streaming", "scd2", "cdc", "warehouse",
)
def q_streaming_scd2_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension maintenance LIVE (round-12 verdict item
    4a): streaming_cdc_apply's changelog topology feeding X101's
    interval build in ONE query — the warehouse CDC shape. The
    streaming state is the dimension HISTORY itself: one state row per
    key holding its version array (a collect_list aggregate updated in
    place each microbatch — exactly what an upsert-sink materialized
    dimension carries; SCD2's state floor is the history, since the
    history IS the output). The interval build then runs batch-side on
    the final state: each key's version array is sorted ONCE row-
    locally (array_sort over (raw ts, event_id, ·) structs — the same
    microsecond-precision (ts, event_id) tie-break X101 pins),
    posexploded, and every
    interval closes against its array successor via 0-indexed
    ``F.get`` (NULL past the end under ANSI, where element_at would
    throw) — no lead() window, because the per-key order already lives
    inside the array. Oracle shared verbatim with batch
    ``scd2_history``.

    Scale: one key shuffle (the streaming agg); the finish is
    row-local. Per-key state is bounded by the key's change history —
    the same bound as the dimension table a 100 TB warehouse already
    stores; no corpus-scale window, no second shuffle."""
    ev = sources.file_replay(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    # the sort struct keeps the RAW timestamp (not its second-floored
    # epoch): the shared oracle orders by (ts, event_id) at full
    # microsecond precision, and a same-second pair whose sub-second
    # order opposes event_id order would otherwise swap intervals
    # between the engines (round-12 review pass 1)
    agg = ev.groupBy("user_id").agg(
        F.collect_list(
            F.struct(
                F.col("ts").alias("t"),
                F.col("event_id").alias("eid"),
                F.col("value").alias("v"),
            )
        ).alias("vs")
    )
    state = run_bounded(agg, "complete")
    ex = state.select("user_id", F.array_sort("vs").alias("sv")).select(
        "user_id", "sv", F.posexplode("sv").alias("pos", "r")
    )
    nxt = F.get("sv", F.col("pos") + 1)
    return ex.select(
        "user_id",
        epoch_seconds(F.col("r.t")).alias("eff_from"),
        epoch_seconds(nxt["t"]).alias("eff_to"),
        nxt["eid"].isNull().cast("int").alias("is_current"),
        F.round("r.v", 2).alias("value"),
    )


@register(
    "streaming_chained_windows",
    """
    WITH wm AS (
        SELECT CAST(floor(epoch(max(ts))) AS BIGINT) - 10 AS w FROM events
    ),
    ten AS (
        SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 600) * 600 AS b_start,
               event_type, count(*) AS cnt
        FROM events GROUP BY 1, 2
    ),
    closed AS (
        SELECT t.* FROM ten t, wm WHERE t.b_start + 600 <= wm.w
    )
    SELECT (c.b_start // 3600) * 3600 AS hour_start, c.event_type,
           max(c.cnt) AS max_10min_cnt, count(*) AS n_buckets
    FROM closed c, wm
    WHERE (c.b_start // 3600) * 3600 + 3600 <= wm.w
    GROUP BY 1, 2
    """,
    "streaming", "chained-agg",
)
def q_streaming_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO stateful windowed aggregations chained in ONE streaming
    query (Spark 3.4+ multiple-stateful-operator support): 10-minute
    per-type counts feed an hourly max-and-bucket-count directly —
    no two-tier split, no intermediate sink. The inner agg emits a
    bucket the microbatch its window closes; the outer consumes it in
    the SAME batch via watermark-delayed eviction (window_time()
    carries the inner window's event time downstream).

    The oracle encodes the measured emission rule: a window (either
    level) emits when final_watermark >= window_end — INCLUSIVE, the
    opposite boundary of stream-stream join state eviction (strict),
    both pinned by tests/test_late_data.py. On bounded replay the
    last hour legitimately never emits."""
    ev = sources.file_replay(spark, sf_dir, "events").withWatermark(
        "ts", "10 seconds"
    )
    ten = ev.groupBy(F.window("ts", "10 minutes"), "event_type").agg(
        F.count("*").alias("cnt")
    )
    hourly = ten.groupBy(
        F.window(F.window_time("window"), "1 hour"), "event_type"
    ).agg(
        F.max("cnt").alias("max_10min_cnt"),
        F.count("*").alias("n_buckets"),
    )
    out = run_bounded(hourly, "append")
    return out.select(
        F.col("window.start").cast("long").alias("hour_start"),
        "event_type",
        "max_10min_cnt",
        "n_buckets",
    )


@register(
    "streaming_interval_join_full_outer",
    """
    WITH wm AS (
        SELECT least(
            (SELECT max(ts) FROM events WHERE event_type = 'error'),
            (SELECT max(ts) FROM events WHERE event_type = 'click')
        ) - INTERVAL 1 MINUTE AS w
    )
    SELECT e.event_id AS error_id, c.event_id AS click_id
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON e.user_id = c.user_id
     AND c.ts >= e.ts - INTERVAL 10 MINUTE
     AND c.ts <= e.ts
    WHERE (e.event_id IS NOT NULL AND c.event_id IS NOT NULL)
       OR (c.event_id IS NULL AND e.ts < (SELECT w FROM wm))
       OR (e.event_id IS NULL
           AND c.ts + INTERVAL 10 MINUTE < (SELECT w FROM wm))
    """,
    "join", "interval", "outer", "streaming",
)
def q_streaming_interval_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream interval join, live — BOTH sides emit
    null rows on state expiry, completing the outer-join matrix next
    to the LEFT variant. The two sides expire at DIFFERENT watermark
    offsets, and the oracle encodes both exactly: an unmatched error
    nulls out once wm passes its own event time (it can only match
    PAST clicks), while an unmatched click nulls out once wm passes
    c_ts + the 10-minute range (a FUTURE error could still reach back
    to it until then). Both evictions are STRICT at the boundary — an
    at-the-watermark row stays in state — pinned by crafted-corpus
    tests in tests/test_late_data.py."""
    errors = (
        sources.file_replay(spark, sf_dir, "events")
        .where(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            "user_id",
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "1 minute")
    )
    clicks = (
        sources.file_replay(spark, sf_dir, "events")
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 minute")
    )
    joined = errors.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("e_ts") - F.expr("interval 10 minutes"))
        & (F.col("c_ts") <= F.col("e_ts")),
        "full_outer",
    ).select("error_id", "click_id")
    return run_bounded(joined, "append")


@register(
    "streaming_dedup_then_window",
    """
    WITH wm AS (
        SELECT CAST(floor(epoch(max(ts))) AS BIGINT) - 10 AS w FROM events
    )
    SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS hour_start,
           event_type, count(*) AS cnt
    FROM events, wm
    GROUP BY 1, 2, wm.w
    HAVING hour_start + 3600 <= wm.w
    """,
    "streaming", "chained-agg", "dedup",
)
def q_streaming_dedup_then_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded dedup CHAINED into a windowed aggregation in
    ONE streaming query (the dedup + agg multi-stateful combination; a
    doubled replay makes the dedup load-bearing): at-least-once
    upstream delivery collapses to exactly-once window counts without
    an intermediate sink — the standard Kafka-consumer topology. The
    dedup state expires with the watermark (X91), the window emits
    under the inclusive close rule pinned for X115, and the oracle is
    simply DISTINCT events windowed, with the last open hour withheld."""
    ev = sources.file_replay(spark, sf_dir, "events")
    doubled = ev.unionByName(ev).withWatermark("ts", "10 seconds")
    deduped = doubled.dropDuplicatesWithinWatermark(["event_id"])
    hourly = deduped.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("cnt")
    )
    out = run_bounded(hourly, "append")
    return out.select(
        F.col("window.start").cast("long").alias("hour_start"),
        "event_type",
        "cnt",
    )


@register(
    "streaming_approx_ndv_hll",
    """
    WITH wm AS (
        SELECT CAST(floor(epoch(max(ts))) AS BIGINT) - 10 AS w FROM events
    ),
    d AS (SELECT DISTINCT user_id, event_type,
                 (CAST(floor(epoch(ts)) AS BIGINT) // 86400) * 86400 AS day_start
          FROM events)
    SELECT day_start, event_type,
           count(*) AS exact_users,
           -- DATA-DEPENDENT bound (round-10 ADVICE): lgK=12 gives ~1.6%
           -- RSE, so 5% is ~3 sigma — deterministic for the shipped
           -- generators at every sf, but a future dataset could
           -- legitimately exceed it on one group; a sweep failure
           -- here is a STATISTICAL event to triage, not a regression
           TRUE AS estimate_within_5pct
    FROM d, wm
    GROUP BY 1, 2, wm.w
    HAVING day_start + 86400 <= wm.w
    """,
    "sketch", "hll", "streaming",
)
def q_streaming_approx_ndv_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`approx_ndv_hll`'s live twin: per-day per-type distinct users
    over a stream, counted TWO ways in one query — exactly (watermark-
    bounded dedup on (user, type, day) chained into a windowed count)
    and approximately (Datasketches `hll_sketch_agg` riding the same
    windowed agg as a fixed-size mergeable sketch). The projection
    emits the exact count plus the 5% accuracy certificate the oracle
    pins as literal TRUE — same contract as the batch twin.

    100 TB shape: the exact branch's dedup state is O(distinct keys
    per watermark horizon) — the part that hurts at scale and exists
    here only to *audit* the sketch; the HLL branch alone is the
    production path, O(1) state per (day, type) group no matter how
    many users stream by. Windows close under the inclusive rule
    (X115); the last open day is withheld by the watermark on both
    engines."""
    ev = sources.file_replay(spark, sf_dir, "events")
    ev = ev.withColumn(
        "day_start",
        (F.floor(F.unix_timestamp("ts") / 86400) * 86400).cast("long"),
    )
    deduped = ev.withWatermark("ts", "10 seconds").dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "day_start"]
    )
    daily = deduped.groupBy(F.window("ts", "1 day"), "event_type").agg(
        F.count("*").alias("exact_users"),
        F.expr("hll_sketch_estimate(hll_sketch_agg(user_id))")
        .cast("long")
        .alias("approx_users"),
    )
    out = run_bounded(daily, "append")
    return out.select(
        F.col("window.start").cast("long").alias("day_start"),
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users")) * 20
            <= F.col("exact_users")
        ).alias("estimate_within_5pct"),
    )


@register(
    "streaming_value_quantiles",
    """
    WITH wm AS (
        SELECT CAST(floor(epoch(max(ts))) AS BIGINT) - 10 AS w FROM events
    ),
    ranked AS (
        SELECT day_start, event_type, value,
               row_number() OVER (PARTITION BY day_start, event_type
                                  ORDER BY value ASC, event_id ASC) AS rn,
               count(*) OVER (PARTITION BY day_start, event_type) AS n
        FROM (SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 86400) * 86400 AS day_start,
                     event_type, value, event_id
              FROM events) t)
    SELECT day_start, event_type, CAST(max(n) AS BIGINT) AS n,
           max(CASE WHEN rn = ceil(0.5 * n) THEN value END) AS p50,
           max(CASE WHEN rn = ceil(0.9 * n) THEN value END) AS p90,
           max(CASE WHEN rn = ceil(0.99 * n) THEN value END) AS p99,
           TRUE AS within_gk_bound
    FROM ranked, wm GROUP BY day_start, event_type, wm.w
    HAVING day_start + 86400 <= wm.w
    """,
    "sketch", "quantile", "streaming",
)
def q_streaming_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`approx_quantiles_certified`'s live twin, completing the live
    sketch family (CMS: X129, HLL: X158): per-day per-type GK
    quantile sketches (`percentile_approx`) maintained IN the
    streaming windowed aggregation — fixed-size mergeable summaries
    merged across microbatches, the 100 TB quantile path — then
    audited after the run by a batch exact-rank join: each sketch
    value must land between the exact order statistics at target ∓
    (n/accuracy + 1) ranks (the GK guarantee, which survives the
    incremental merge order), and the streamed per-window count must
    equal the exact one. The oracle pins the exact quantiles and the
    literal TRUE; the last open day is withheld by the watermark on
    both engines.

    100 TB shape: streaming state is one O(accuracy) summary per
    (day, type) group regardless of row count; the exact branch is
    post-hoc audit machinery, not part of the streaming plan (pin:
    exactly one StateStoreSave)."""
    from pyspark.sql import Window as W

    from flink_scala_spark import tables

    ev = sources.file_replay(spark, sf_dir, "events")
    agg = (
        ev.withWatermark("ts", "10 seconds")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(
            F.percentile_approx("value", [0.5, 0.9, 0.99], 1000).alias("apx"),
            F.count("*").alias("n_stream"),
        )
    )
    out = run_bounded(agg, "append").select(
        F.col("window.start").cast("long").alias("day_start"),
        "event_type",
        "apx",
        "n_stream",
    )

    ev_b = tables.load(spark, sf_dir, "events").select(
        (F.floor(epoch_seconds("ts") / 86400) * 86400)
        .cast("long")
        .alias("day_start"),
        "event_type",
        "value",
        "event_id",
    )
    wo = W.partitionBy("day_start", "event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    wn = W.partitionBy("day_start", "event_type")
    ranked = ev_b.withColumn("rn", F.row_number().over(wo)).withColumn(
        "n", F.count("*").over(wn)
    )
    slack = F.ceil(F.col("n") / F.lit(1000)) + F.lit(1)
    aggs = [F.max("n").alias("n")]
    for q, p in ((0.5, 50), (0.9, 90), (0.99, 99)):
        target = F.ceil(F.lit(q) * F.col("n"))
        lo_r = F.greatest(F.lit(1).cast("long"), target - slack)
        hi_r = F.least(F.col("n").cast("long"), target + slack)
        aggs += [
            F.max(F.when(F.col("rn") == target, F.col("value"))).alias(f"p{p}"),
            F.max(F.when(F.col("rn") == lo_r, F.col("value"))).alias(f"_lo{p}"),
            F.max(F.when(F.col("rn") == hi_r, F.col("value"))).alias(f"_hi{p}"),
        ]
    audit = ranked.groupBy("day_start", "event_type").agg(*aggs)
    cert = F.col("n_stream") == F.col("n")
    for i, p in enumerate((50, 90, 99)):
        apx_p = F.element_at("apx", i + 1)
        cert = cert & (apx_p >= F.col(f"_lo{p}")) & (apx_p <= F.col(f"_hi{p}"))
    return out.join(audit, ["day_start", "event_type"]).select(
        "day_start",
        "event_type",
        "n",
        "p50",
        "p90",
        "p99",
        cert.alias("within_gk_bound"),
    )


@register(
    "streaming_join_then_window",
    """
    WITH wm AS (
        SELECT CAST(floor(epoch(least(
            (SELECT max(ts) FROM events WHERE event_type = 'error'),
            (SELECT max(ts) FROM events WHERE event_type = 'click')
        ))) AS BIGINT) - 60 AS w
    )
    SELECT hour_start, pairs FROM (
        SELECT (CAST(floor(epoch(e.ts)) AS BIGINT) // 3600) * 3600 AS hour_start,
               count(*) AS pairs
        FROM (SELECT * FROM events WHERE event_type = 'error') e
        JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON e.user_id = c.user_id
         AND c.ts >= e.ts - INTERVAL 10 MINUTE
         AND c.ts <= e.ts
        GROUP BY 1
    ) t, wm
    WHERE hour_start + 3600 + 600 < wm.w
    """,
    "streaming", "chained-agg", "join",
)
def q_streaming_join_then_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join CHAINED into a windowed aggregation
    in ONE query — the third multi-stateful combination (after
    window->window and dedup->window): matched error-click pairs roll
    into hourly counts with no intermediate sink.

    The join DELAYS the watermark it propagates downstream by its own
    event-time range (a pair can only be certified complete once no
    further click could match), so an hour of pairs emits only when
    the global watermark passes hour_end + 10 minutes — measured
    STRICT at that boundary (wm == hour_end+600 withholds, +660
    emits; pinned by tests/test_late_data.py). The oracle encodes
    exactly that: the full pair histogram with trailing hours
    withheld."""
    errors = (
        sources.file_replay(spark, sf_dir, "events")
        .where(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            "user_id",
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "1 minute")
    )
    clicks = (
        sources.file_replay(spark, sf_dir, "events")
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 minute")
    )
    joined = errors.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("e_ts") - F.expr("interval 10 minutes"))
        & (F.col("c_ts") <= F.col("e_ts")),
        "inner",
    )
    hourly = joined.groupBy(F.window("e_ts", "1 hour")).agg(
        F.count("*").alias("pairs")
    )
    out = run_bounded(hourly, "append")
    return out.select(
        F.col("window.start").cast("long").alias("hour_start"), "pairs"
    )


# ---------------------------------------------------------------------------
# ST4 first-class: transformWithStateInPandas timers in the driver gate
# ---------------------------------------------------------------------------

#: Replay/bucketing constants for the TWS rising alarm. A 12-hour
#: horizon yields a healthy alarm count at every sf.
# 5-day replay buckets -> ~7 deterministic microbatches over the
# 30-day events span.
# Round 6 used 2-day buckets (~17 batches); each TWS microbatch pays a
# fixed Python state-server roundtrip, so the four TWS entries spent
# 190 s of the 399 s streaming bench on replay harness cost alone.
# 7 batches keep every measured semantic live (timers still fire
# MID-stream: 30 alarms at sf0.01; both TTL eviction paths execute)
# while the oracles recompute from this constant in lockstep.
_TWS_BUCKET_S = 432_000
_TWS_HORIZON_S = 43_200

# The oracle replays the MEASURED first-class timer semantics in pure
# SQL (all pinned by probes + tests/test_tws_timers.py):
#   * batch k's watermark = max event time through batch k-1 minus the
#     1 s delay; timers fire when expiry <= watermark (INCLUSIVE);
#   * a batch's input rows are processed BEFORE its expired timers, so
#     a fall in (or before) the firing batch deletes the timer and the
#     rises of the firing batch count into n_rising;
#   * availableNow runs one trailing no-data batch, firing whatever
#     the FINAL watermark covers (the least(fire_k, max k) clamp).
# Buckets are epoch-aligned `unix_micros DIV (W*1e6)` — identical
# arithmetic on both engines — so batch boundaries, watermarks, firing
# batches, and therefore every output row are exactly reproducible.
_TWS_ALARM_ORACLE = f"""
WITH ev AS (
    SELECT user_id, event_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS ts_l,
           epoch_us(ts) AS ts_us,
           value,
           epoch_us(ts) // {_TWS_BUCKET_S * 1_000_000} AS bucket
    FROM events
),
bx AS (
    SELECT bucket,
           max(bmax) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS m_us,
           row_number() OVER (ORDER BY bucket) AS k
    FROM (SELECT bucket, max(ts_us) AS bmax FROM ev GROUP BY 1) t
),
flagged AS (
    SELECT e.*, bx.k,
           CASE WHEN lag(value) OVER w IS NOT NULL
                 AND value > lag(value) OVER w THEN 1 ELSE 0 END AS rising
    FROM ev e JOIN bx USING (bucket)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_l, event_id)
),
islands AS (
    SELECT *, sum(1 - rising) OVER (PARTITION BY user_id ORDER BY ts_l, event_id
                                    ROWS UNBOUNDED PRECEDING) AS grp
    FROM flagged
),
streaks AS (
    SELECT user_id, grp, min(ts_l) AS streak_start
    FROM islands WHERE rising = 1 GROUP BY 1, 2
),
falls AS (
    SELECT user_id, grp - 1 AS grp, min(k) AS fall_k
    FROM islands WHERE rising = 0 AND grp > 1 GROUP BY 1, 2
),
fired AS (
    SELECT s.user_id, s.grp, s.streak_start,
           (s.streak_start + {_TWS_HORIZON_S}) AS alarm_ts,
           least(min(bx.k) + 1, (SELECT max(k) FROM bx)) AS proc_k
    FROM streaks s JOIN bx
      ON (bx.m_us // 1000) - 1000 >= (s.streak_start + {_TWS_HORIZON_S}) * 1000
    GROUP BY 1, 2, 3
),
alive AS (
    SELECT f.*
    FROM fired f LEFT JOIN falls fl
      ON fl.user_id = f.user_id AND fl.grp = f.grp
    WHERE fl.fall_k IS NULL OR fl.fall_k > f.proc_k
)
SELECT CAST(a.user_id AS BIGINT) AS user_id,
       CAST(a.streak_start AS BIGINT) AS streak_start,
       CAST(a.alarm_ts AS BIGINT) AS alarm_ts,
       CAST(count(*) AS BIGINT) AS n_rising
FROM alive a JOIN islands i
  ON i.user_id = a.user_id AND i.grp = a.grp
 AND i.rising = 1 AND i.k <= a.proc_k
GROUP BY 1, 2, 3
"""


@register(
    "streaming_rising_alarm_tws",
    _TWS_ALARM_ORACLE,
    "ST4", "tws", "timers", "streaming",
)
def q_streaming_rising_alarm_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST4 on the FIRST-CLASS Spark 4 timer API, in the driver gate:
    the reference's rising-temperature alarm
    (ProcessAlarmTest.scala:76-108) — registerTimer on the first rise
    (:90-94), deleteTimer on a fall (:95-100), alarm emitted from the
    expired-timer callback (:103-107) — executed for real through
    ``transformWithStateInPandas`` + RocksDB on the events table,
    replayed as ~7 time-ordered microbatches so the watermark
    actually climbs and fires timers mid-stream. The protobuf runtime
    the TWS worker needs is unlocked in-session
    (streaming/tws.py:ensure_tws_runtime), so this runs on the
    driver's own vanilla SparkSession; the DuckDB oracle replays the
    measured watermark/timer semantics exactly (see _TWS_ALARM_ORACLE).
    The `applyInPandasWithState` emulation twin is `rising_streak_alarm`
    / `streaming_delta_alarm`."""
    from flink_scala_spark.streaming.runner import run_bounded_now
    from flink_scala_spark.streaming.tws import ensure_tws_runtime, rising_alarm_tws

    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    ensure_tws_runtime(spark)
    try:
        src = sources.file_replay_time_buckets(
            spark, sf_dir, "events", _TWS_BUCKET_S
        )
        alarms = rising_alarm_tws(src, horizon_seconds=_TWS_HORIZON_S)
        return run_bounded_now(alarms, "append")
    finally:
        if prev_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider
            )


# The running-summary processor emits one row per (key, batch-with-
# input); n_events is strictly increasing across a key's emissions, so
# end-state selection is max_by(n_events) — and the end state must
# equal the plain batch aggregate over the whole table, which is the
# oracle. last3_cents folds the final three events in (bucket,
# event_id) arrival order with floor(value*100) (float64 floor is
# bit-identical across engines; round's half-rule is not).
_TWS_SUMMARY_ORACLE = f"""
WITH ev AS (
    SELECT user_id, event_id, event_type,
           CAST(floor(value * 100) AS BIGINT) AS cents,
           epoch_us(ts) // {_TWS_BUCKET_S * 1_000_000} AS bucket
    FROM events
),
tc AS (
    SELECT user_id, event_type, count(*) AS c FROM ev GROUP BY 1, 2
),
agg AS (
    SELECT user_id,
           CAST(sum(c) AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(max(c) AS BIGINT) AS max_type_cnt
    FROM tc GROUP BY 1
),
l3 AS (
    SELECT user_id, CAST(sum(cents) AS BIGINT) AS last3_cents
    FROM (SELECT user_id, cents,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY bucket DESC, event_id DESC) AS rn
          FROM ev) t
    WHERE rn <= 3 GROUP BY 1
)
SELECT CAST(a.user_id AS BIGINT) AS user_id,
       a.n_events, a.n_types, a.max_type_cnt, l3.last3_cents
FROM agg a JOIN l3 USING (user_id)
"""


@register(
    "streaming_session_summary_tws",
    _TWS_SUMMARY_ORACLE,
    "ST1", "ST2", "ST3", "tws", "streaming",
)
def q_streaming_session_summary_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining first-class TWS state kinds in the driver gate:
    MapState (per-event-type counts), ListState (rolling last-3
    values), running per-key emission in update mode — the Spark 4
    StatefulProcessor realization of the reference's keyed-state
    processors (ProcessFunctionTest.scala / ProcessAlarmTest.scala
    state handling), complementing the timer query
    `streaming_rising_alarm_tws`. State must survive across the ~7
    time-bucketed microbatches for the end-state row (max_by n_events)
    to equal the whole-table aggregate the oracle computes."""
    from flink_scala_spark.streaming.runner import run_bounded_now
    from flink_scala_spark.streaming.tws import (
        ensure_tws_runtime,
        session_summary_tws,
    )

    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    ensure_tws_runtime(spark)
    try:
        src = sources.file_replay_time_buckets(
            spark, sf_dir, "events", _TWS_BUCKET_S
        )
        out = run_bounded_now(session_summary_tws(src), "update")
    finally:
        if prev_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider
            )
    final = out.groupBy("user_id").agg(
        F.expr(
            "max_by(struct(n_events, n_types, max_type_cnt, last3_cents), n_events)"
        ).alias("s")
    )
    return final.select(
        "user_id", "s.n_events", "s.n_types", "s.max_type_cnt", "s.last3_cents"
    )


# ---------------------------------------------------------------------------
# ST4 first-class, pattern 3: session windows driven by gap timers
# ---------------------------------------------------------------------------

#: Session gap for the timer-driven sessionization (6 h against the
#: ~11 h mean per-user event spacing: plenty of both merges and splits
#: at every sf).
_TWS_GAP_S = 21_600

# Same measured-semantics model as _TWS_ALARM_ORACLE, applied to gap
# timers: a row opens a NEW session iff the previous row's gap timer
# could fire strictly before the row's batch — i.e. the watermark of
# batch (k_curr - 1), which is max-event-time through batch k_curr - 2
# minus the 1 s delay, reaches prev_ts + gap (watermarks are monotone,
# so "exists an earlier firing batch" collapses to that single
# lookup). A user's final session emits only if the trailing no-data
# batch's watermark (global max - 1 s) covers its close; every earlier
# session was closed by construction of the split.
_TWS_SESSION_ORACLE = f"""
WITH ev AS (
    SELECT user_id, event_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS ts_l,
           epoch_us(ts) AS ts_us,
           CAST(floor(value * 100) AS BIGINT) AS cents,
           epoch_us(ts) // {_TWS_BUCKET_S * 1_000_000} AS bucket
    FROM events
),
bx AS (
    SELECT bucket,
           max(bmax) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS m_us,
           row_number() OVER (ORDER BY bucket) AS k
    FROM (SELECT bucket, max(ts_us) AS bmax FROM ev GROUP BY 1) t
),
seq AS (
    SELECT e.*, bx.k,
           lag(e.ts_l) OVER (PARTITION BY e.user_id
                             ORDER BY e.ts_l, e.event_id) AS prev_ts
    FROM ev e JOIN bx USING (bucket)
),
flag AS (
    SELECT s.*,
           CASE WHEN s.prev_ts IS NULL THEN 1
                WHEN b2.m_us IS NOT NULL
                 AND (b2.m_us // 1000) - 1000
                     >= (s.prev_ts + {_TWS_GAP_S}) * 1000 THEN 1
                ELSE 0 END AS new_sess
    FROM seq s LEFT JOIN bx b2 ON b2.k = s.k - 2
),
sess AS (
    SELECT *, sum(new_sess) OVER (PARTITION BY user_id
                                  ORDER BY ts_l, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sid
    FROM flag
),
agg AS (
    SELECT user_id, sid,
           min(ts_l) AS session_start, max(ts_l) AS session_end,
           count(*) AS n_events, sum(cents) AS sum_cents
    FROM sess GROUP BY 1, 2
),
lastsid AS (SELECT user_id, max(sid) AS max_sid FROM agg GROUP BY 1)
SELECT CAST(a.user_id AS BIGINT) AS user_id,
       CAST(a.session_start AS BIGINT) AS session_start,
       CAST(a.session_end AS BIGINT) AS session_end,
       CAST(a.n_events AS BIGINT) AS n_events,
       CAST(a.sum_cents AS BIGINT) AS sum_cents
FROM agg a JOIN lastsid l USING (user_id)
WHERE a.sid < l.max_sid
   OR ((SELECT max(m_us) FROM bx) // 1000) - 1000
      >= (a.session_end + {_TWS_GAP_S}) * 1000
"""


@register(
    "streaming_session_gap_tws",
    _TWS_SESSION_ORACLE,
    "ST4", "W4", "tws", "timers", "streaming",
)
def q_streaming_session_gap_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows realized the Flink way — gap TIMERS, not Spark's
    built-in session_window: every event deletes and re-registers the
    key's timer at event_time + 6 h (ProcessAlarmTest.scala:90-100's
    delete/register discipline); the session row is emitted from the
    expired-timer callback when the watermark outruns the last event
    by the gap, and state clears for the next session. Third
    first-class TWS pattern in the gate (timers-as-alarm:
    `streaming_rising_alarm_tws`; state kinds:
    `streaming_session_summary_tws`); the built-in-operator twin is
    `streaming_session_windows`. Oracle: the measured bucket/watermark
    model (see _TWS_SESSION_ORACLE)."""
    from flink_scala_spark.streaming.runner import run_bounded_now
    from flink_scala_spark.streaming.tws import ensure_tws_runtime, session_gap_tws

    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    ensure_tws_runtime(spark)
    try:
        src = sources.file_replay_time_buckets(
            spark, sf_dir, "events", _TWS_BUCKET_S
        )
        return run_bounded_now(session_gap_tws(src, _TWS_GAP_S), "append")
    finally:
        if prev_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider
            )


# ---------------------------------------------------------------------------
# M3 stateful: live two-input co-processing (tagged union + per-side
# keyed state + gap timers) — order-vs-payment reconciliation
# ---------------------------------------------------------------------------

#: Reconciliation gap: a purchase must be "paid" (next click) within a
#: day or the gap timer expires it. Against the ~55 h mean per-user
#: click spacing this yields a healthy mix of matched AND expired rows
#: at every sf (sf0.001: 66/129, sf0.01: 724/1206).
_TWS_RECONCILE_GAP_S = 86_400

# Measured-semantics model (same facts as _TWS_ALARM_ORACLE):
# - matched rows are REPLAY-INDEPENDENT: an eligible click (strictly
#   after the purchase, within the gap) always arrives in a batch
#   strictly before the purchase's timer can fire — the watermark in
#   effect at any batch is built from earlier buckets, all of whose
#   rows predate the click — so first-click selection is plain SQL;
# - expired rows need only the FINAL watermark (global max event time
#   of the union's rows minus the 1 s delay) to cover ts + gap: the
#   trailing no-data batch fires every remaining covered timer;
# - watermark basis: the event_type filters sit BEFORE withWatermark,
#   so only purchase/click rows drive it (the pc CTE mirrors this);
# - clicks_before is the payment-side ValueState counter at match
#   time == the click's (ts, event_id)-ordered sequence number.
_TWS_RECONCILE_ORACLE = f"""
WITH pc AS (
    SELECT event_id, user_id, event_type,
           CAST(floor(epoch(ts)) AS BIGINT) AS ts_l,
           epoch_us(ts) AS ts_us,
           CAST(floor(value * 100) AS BIGINT) AS cents
    FROM events WHERE event_type IN ('purchase', 'click')
),
ords AS (SELECT * FROM pc WHERE event_type = 'purchase'),
pays AS (
    SELECT event_id, user_id, ts_l,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts_l, event_id) AS click_seq
    FROM pc WHERE event_type = 'click'
),
m AS (
    SELECT o.user_id, o.event_id AS order_eid, o.ts_l AS order_ts,
           o.cents, p.event_id AS pay_eid, p.ts_l AS pay_ts, p.click_seq
    FROM ords o JOIN pays p
      ON p.user_id = o.user_id
     AND p.ts_l > o.ts_l AND p.ts_l <= o.ts_l + {_TWS_RECONCILE_GAP_S}
    QUALIFY row_number() OVER (PARTITION BY o.event_id
                               ORDER BY p.ts_l, p.event_id) = 1
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(order_eid AS BIGINT) AS order_eid,
       CAST(order_ts AS BIGINT) AS order_ts,
       CAST(cents AS BIGINT) AS cents,
       'matched' AS status,
       CAST(pay_eid AS BIGINT) AS pay_eid,
       CAST(pay_ts - order_ts AS BIGINT) AS latency_s,
       CAST(click_seq AS BIGINT) AS clicks_before
FROM m
UNION ALL
SELECT CAST(o.user_id AS BIGINT), CAST(o.event_id AS BIGINT),
       CAST(o.ts_l AS BIGINT), CAST(o.cents AS BIGINT), 'expired',
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
FROM ords o
WHERE NOT EXISTS (
        SELECT 1 FROM pays p
        WHERE p.user_id = o.user_id
          AND p.ts_l > o.ts_l
          AND p.ts_l <= o.ts_l + {_TWS_RECONCILE_GAP_S})
  AND (SELECT max(ts_us) FROM pc) // 1000 - 1000
      >= (o.ts_l + {_TWS_RECONCILE_GAP_S}) * 1000
"""


@register(
    "streaming_two_stream_reconcile_tws",
    _TWS_RECONCILE_ORACLE,
    "M3", "ST1", "ST4", "tws", "timers", "streaming",
)
def q_streaming_two_stream_reconcile_tws(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """M3's STATEFUL form, live (round-10 verdict item 4 — the last §2
    mapping with no streaming stateful realization): two
    DIFFERENTLY-TYPED streams (purchases carry an amount, clicks do
    not — ConnectAndUnion.scala:39-52's connect of unlike streams)
    merge as a tagged union and run through ONE keyed
    StatefulProcessor holding PER-SIDE keyed state
    (StateTest.scala:67-74's ValueState pattern, once per input):
    pending-order ListState on the order side, click-counter
    ValueState on the payment side, and a gap TIMER per purchase
    (ProcessAlarmTest.scala:90-94). A purchase is matched by the
    user's first click within 24 h — emitting latency and the
    payment-side state's click sequence number — or emitted 'expired'
    from the timer callback when the watermark passes ts + gap. The
    DuckDB oracle replays the measured watermark model
    (_TWS_RECONCILE_ORACLE); replayed over ~7 time-ordered
    microbatches so both state kinds and the timers genuinely cross
    batch boundaries."""
    from flink_scala_spark.streaming.runner import run_bounded_now
    from flink_scala_spark.streaming.tws import (
        ensure_tws_runtime,
        two_stream_reconcile_tws,
    )

    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    ensure_tws_runtime(spark)
    try:
        # ONE replay source, tagged in-stream (round-11 review pass 3:
        # the previous two-source unionByName read every bucket file
        # twice per microbatch — 2x source I/O for an identical tagged
        # stream). The union sat BEFORE the watermark, so the single
        # filtered stream has the same watermark basis: max event time
        # over purchase ∪ click rows. Clicks carry a NULL value, as
        # unionByName(allowMissingColumns) produced.
        is_order = F.col("event_type") == "purchase"
        tagged = (
            sources.file_replay_time_buckets(spark, sf_dir, "events", _TWS_BUCKET_S)
            .where(F.col("event_type").isin("purchase", "click"))
            .select(
                "user_id",
                "event_id",
                "ts",
                F.when(is_order, F.col("value")).alias("value"),
                F.when(is_order, F.lit("order"))
                .otherwise(F.lit("pay"))
                .alias("side"),
            )
        )
        return run_bounded_now(
            two_stream_reconcile_tws(tagged, _TWS_RECONCILE_GAP_S), "append"
        )
    finally:
        if prev_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider
            )


# ---------------------------------------------------------------------------
# W8 streaming twin: FIRE_AND_PURGE trigger + evictor, on real timers
# ---------------------------------------------------------------------------

#: 4-day tumbling windows fired-and-purged every 5th element; the
#: evictor drops readings below 5.0 before the window function
#: (MyEvictor's invalid-element removal, non-vacuous at every sf:
#: ~9% of events fall below it). The window size is a FIXED absolute
#: (not derived from the replay bucket) so retuning the replay's
#: microbatch count — a harness knob — can never silently change the
#: query's window semantics; windows and 5-day buckets intersect off-
#: boundary, which exercises window-end timers firing MID-batch.
_FP_WINDOW_S = 345_600
_FP_COUNT = 5
_FP_EVICT_BELOW = 5.0
# fire_purge replays its own, COARSER buckets (10-day -> 3 buckets + the
# trailing no-data batch = 4 microbatches vs 8 at _TWS_BUCKET_S): unlike
# the _TWS_* oracles, _FIRE_PURGE_ORACLE never references batch
# boundaries — count-fires depend only on global (ts, event_id) order
# (preserved by ANY time-bucketed replay) and timer-fires only on the
# FINAL watermark — so the output is bucket-size-independent (measured:
# identical rows at 5d and 10d) and each dropped microbatch saves the
# fixed TWS state-server roundtrip. 10 days still fires window timers
# MID-stream (4-day windows ending <= day 10 fire in batch 2): the
# purge-on-fire-then-resume path stays live, not just the trailing
# flush.
_FP_BUCKET_S = 864_000

# Oracle model (measured semantics, same facts as _TWS_ALARM_ORACLE):
# rows of a (user, window) are processed in (ts, event_id) order (the
# bucket replay's arrival order), so the count-trigger's purge
# boundaries are row_number DIV N. Complete groups of N fire
# unconditionally on arrival of their Nth element ('count'); the
# partial remainder fires from the window-end timer ('timer') iff some
# batch's watermark reaches window_end — monotone watermarks collapse
# that to the FINAL watermark (global max event time over post-evictor
# rows, ms-truncated, minus the 1 s delay), timers firing INCLUSIVE at
# the boundary. Windows align to epoch multiples of the window size on
# both engines.
_FIRE_PURGE_ORACLE = f"""
WITH ev AS (
    SELECT user_id, event_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS ts_l,
           epoch_us(ts) AS ts_us,
           CAST(floor(value * 100) AS BIGINT) AS cents
    FROM events WHERE value >= {_FP_EVICT_BELOW}
),
wx AS (
    SELECT user_id, ts_us, cents,
           (ts_l // {_FP_WINDOW_S}) * {_FP_WINDOW_S} AS w_start,
           row_number() OVER (PARTITION BY user_id, ts_l // {_FP_WINDOW_S}
                              ORDER BY ts_l, event_id) - 1 AS idx
    FROM ev
),
grps AS (
    SELECT user_id, w_start, idx // {_FP_COUNT} AS fire_seq,
           count(*) AS n_events, sum(cents) AS sum_cents
    FROM wx GROUP BY 1, 2, 3
),
wm AS (SELECT (max(ts_us) // 1000) - 1000 AS wm_ms FROM ev)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(w_start AS BIGINT) AS window_start,
       CAST(fire_seq AS BIGINT) AS fire_seq,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(sum_cents AS BIGINT) AS sum_cents,
       CASE WHEN n_events = {_FP_COUNT} THEN 'count' ELSE 'timer' END AS fired_by
FROM grps, wm
WHERE n_events = {_FP_COUNT}
   OR wm_ms >= (w_start + {_FP_WINDOW_S}) * 1000
"""


@register(
    "streaming_trigger_fire_purge",
    _FIRE_PURGE_ORACLE,
    "W8", "W9", "ST4", "tws", "timers", "streaming", "trigger",
)
def q_streaming_trigger_fire_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's FIRE_AND_PURGE trigger semantics
    (TestTriggerAndEvictor.scala:84-107: UtcTrigger returns
    FIRE_AND_PURGE from onElement and onEventTime; :71-82 documents the
    purge-on-fire discipline) as a LIVE streaming query on first-class
    timers — the general purging form PurgingTrigger(CountTrigger(5))
    over keyed 4-day tumbling event-time windows: every 5th element of
    a (user, window) FIRES the buffered aggregate and PURGES it (each
    emission is the increment since the last fire, so window state
    never holds raw elements), and the window-end event-time timer
    fires the remaining partial buffer and drops the window's state.
    The evictor (MyEvictor:122-134, removing invalid elements before
    the window function) is the pre-window `value >= 5.0` filter.
    Closes the last §7.4 emulation-only gap: the batch emulation is
    `trigger_per_element_fire` / `evictor_prefilter`; this is the
    streaming form with real purge-on-fire state. Oracle: the measured
    timer/watermark model (_FIRE_PURGE_ORACLE)."""
    from flink_scala_spark.streaming.runner import run_bounded_now
    from flink_scala_spark.streaming.tws import ensure_tws_runtime, fire_purge_tws

    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    ensure_tws_runtime(spark)
    try:
        src = sources.file_replay_time_buckets(
            spark, sf_dir, "events", _FP_BUCKET_S
        )
        return run_bounded_now(
            fire_purge_tws(src, _FP_WINDOW_S, _FP_COUNT, _FP_EVICT_BELOW),
            "append",
        )
    finally:
        if prev_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider
            )


# ---------------------------------------------------------------------------
# Unified batch+stream backfill (the lambda-architecture kill)
# ---------------------------------------------------------------------------

@register(
    "unified_backfill_daily",
    """
    SELECT CAST(strftime(ts, '%Y%m%d') AS INT) AS day,
           event_type,
           count(*) AS cnt,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events GROUP BY 1, 2
    """,
    "streaming", "backfill", "unified",
)
def q_unified_backfill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch backfill + streaming tail as ONE result — the pattern
    that retires lambda architectures: history (days before the cut)
    aggregates through the BATCH DataFrame API, the tail replays
    through a real Structured Streaming query (watermark, state store,
    microbatches), and because both APIs share Spark's semantics the
    union is seamlessly equal to a full batch recompute over the whole
    table — which is exactly what the cut-blind oracle computes. The
    daily sums travel as integer cents so the batch/stream seam cannot
    introduce float-order drift. In production the cut is the
    checkpoint of the streaming job that took over from the backfill;
    here it is a fixed mid-range day."""
    from flink_scala_spark import tables
    from flink_scala_spark.streaming.runner import run_bounded

    cut = F.lit("2024-01-21 00:00:00").cast("timestamp")
    day = F.date_format("ts", "yyyyMMdd").cast("int").alias("day")
    cents = F.floor(F.col("value") * 100).cast("long")

    # batch history: everything before the cut
    ev_b = tables.load(spark, sf_dir, "events")
    if dict(ev_b.dtypes).get("ts") == "timestamp_ntz":
        ev_b = ev_b.withColumn("ts", F.col("ts").cast("timestamp"))
    hist = (
        ev_b.where(F.col("ts") < cut)
        .groupBy(day, "event_type")
        .agg(F.count("*").alias("cnt"), F.sum(cents).alias("cents"))
    )

    # streaming tail: at-and-after the cut, through a live query
    ev_s = sources.file_replay(spark, sf_dir, "events").where(F.col("ts") >= cut)
    tail_agg = (
        ev_s.withWatermark("ts", "1 minute")
        .groupBy(day, "event_type")
        .agg(F.count("*").alias("cnt"), F.sum(cents).alias("cents"))
    )
    tail = run_bounded(tail_agg, "complete")

    # the cut is day-aligned, so no (day, event_type) group straddles
    # it and the union IS the full-table aggregate
    return hist.unionByName(tail)

# ---------------------------------------------------------------------------
# Streaming near-duplicate detection (stateful LSH across microbatches)
# ---------------------------------------------------------------------------

# Reuse the batch minhash oracle's building blocks verbatim so the
# streaming twin can never drift from X2's arithmetic.
from flink_scala_spark.queries.pipeline_queries import (  # noqa: E402
    _BAND_SELECTS,
    _HX_CTE,
    _MH_COLS,
    _SH_CTE,
)

_ND_AGREE = " + ".join(
    f"CASE WHEN sa.mh{s} = sb.mh{s} THEN 1 ELSE 0 END" for s in range(8)
)

_STREAMING_ND_ORACLE = f"""
    WITH {_SH_CTE}, {_HX_CTE},
    sig AS (SELECT doc_id,
        {_MH_COLS}
        FROM hx GROUP BY doc_id),
    bands AS (
  {_BAND_SELECTS}),
    cand AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
    agree AS (
        SELECT c.src, c.dst FROM cand c
        JOIN sig sa ON sa.doc_id = c.src
        JOIN sig sb ON sb.doc_id = c.dst
        WHERE {_ND_AGREE} >= 6
    )
    SELECT dst AS doc_id,
           CAST(count(*) AS BIGINT) AS n_sources,
           CAST(min(src) AS BIGINT) AS first_source
    FROM agree GROUP BY 1
"""


@register(
    "streaming_dedup_minhash",
    _STREAMING_ND_ORACLE,
    "streaming", "dedup", "minhash", "stateful",
)
def q_streaming_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-duplicate detection as a live stateful stream — the
    production ingest shape: documents arrive over 8 ascending-id
    microbatches, each computes its MinHash signature ROW-LOCALLY
    (dedup.minhash_shingle_hashes + minhash_exprs_over_hashes — no
    shuffle before the band key), and per-LSH-bucket keyed state holds
    the signatures seen so far; a doc agreeing with an EARLIER doc on
    >= 6 of 8 minhashes is flagged with its sources. Pigeonhole makes
    bucket-local checking lossless at this threshold (>= 6 matches
    forces at least one fully-equal band). Complements
    `streaming_dedup_events` (exact keys) and the batch
    `dedup_minhash_lsh` (whole-corpus pairs); the
    oracle runs the identical signature/band arithmetic with
    'earlier' = smaller doc_id, which the id-bucket replay contract
    guarantees. Retention is UNBOUNDED by design (dedup against
    everything ever seen); the production form for unbounded ingest is
    `streaming_dedup_minhash_ttl`, which expires bucket state at the
    watermark horizon. Guarded — past the state-row bound this
    baseline refuses and points at the TTL twin."""
    from flink_scala_spark import tables
    from flink_scala_spark.pipeline import guards
    from flink_scala_spark.streaming.runner import run_bounded
    from flink_scala_spark.streaming.stateful import near_dup_flags

    guards.guard_unbounded_state(
        tables.load(spark, sf_dir, "documents").count(),
        "streaming_dedup_minhash",
        "streaming_dedup_minhash_ttl",
    )
    stream = sources.file_replay_id_buckets(
        spark, sf_dir, "documents", "doc_id", 8
    )
    flags = run_bounded(near_dup_flags(stream), "append")
    pairs = flags.distinct()  # the same pair can surface in 2+ bands
    return pairs.groupBy("doc_id").agg(
        F.count("*").alias("n_sources"), F.min("src").alias("first_source")
    )


# TTL'd twin: per-bucket signatures EXPIRE once the watermark outruns
# them by the dedup horizon (2 id-bucket widths). The oracle models the
# measured watermark timeline exactly: during the batch that delivers
# dst's bucket, the watermark is the max event time of all EARLIER
# buckets (delay 0), so a cross-bucket source survives iff
#   src_id >= prev_bucket_max(dst) - horizon_ids
# and same-bucket sources always match (they are added to state in the
# same invocation, before any later watermark can evict them).
_STREAMING_ND_TTL_ORACLE = f"""
    WITH {_SH_CTE}, {_HX_CTE},
    sig AS (SELECT doc_id,
        {_MH_COLS}
        FROM hx GROUP BY doc_id),
    bands AS (
  {_BAND_SELECTS}),
    w AS (SELECT ((SELECT max(doc_id) FROM documents) // 8) + 1 AS w),
    cand AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
    alive AS (SELECT c.src, c.dst FROM cand c, w
              WHERE (c.src // w.w) = (c.dst // w.w)
                 OR c.src >= (SELECT max(d2.doc_id) FROM documents d2
                              WHERE (d2.doc_id // w.w) < (c.dst // w.w))
                              - 2 * w.w),
    agree AS (
        SELECT c.src, c.dst FROM alive c
        JOIN sig sa ON sa.doc_id = c.src
        JOIN sig sb ON sb.doc_id = c.dst
        WHERE {_ND_AGREE} >= 6
    )
    SELECT dst AS doc_id,
           CAST(count(*) AS BIGINT) AS n_sources,
           CAST(min(src) AS BIGINT) AS first_source
    FROM agree GROUP BY 1
"""


@register(
    "streaming_dedup_minhash_ttl",
    _STREAMING_ND_TTL_ORACLE,
    "streaming", "dedup", "minhash", "stateful", "ttl",
)
def q_streaming_dedup_minhash_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`streaming_dedup_minhash` with BOUNDED state — the form that
    survives unbounded 100 TB ingest: each document carries a synthetic
    event time (1 s per doc_id, the id-bucket replay's arrival order
    made explicit), the stream is watermarked, and every LSH bucket's
    signature list EXPIRES entries the watermark has outrun by the
    dedup horizon (2 bucket widths) — lazy eviction on arrival plus a
    `GroupStateTimeout.EventTimeTimeout` that clears wholly idle
    buckets. This is WindowTest.scala:71-72's allowedLateness state
    bounding applied to dedup state. A doc is therefore flagged only
    against sources still in-horizon, which is exactly what the oracle
    computes from the deterministic watermark timeline (see
    _STREAMING_ND_TTL_ORACLE)."""
    from flink_scala_spark import tables
    from flink_scala_spark.streaming.runner import run_bounded
    from flink_scala_spark.streaming.stateful import near_dup_flags_ttl

    max_id = (
        tables.load(spark, sf_dir, "documents").agg(F.max("doc_id")).collect()[0][0]
    )  # 1-row agg collect: sizes the horizon, same scan the replay makes
    width = (int(max_id) // 8) + 1
    horizon_s = 2 * width  # seconds == ids (1 s per id)

    stream = sources.file_replay_id_buckets(
        spark, sf_dir, "documents", "doc_id", 8
    ).withColumn("ts", F.timestamp_seconds(F.col("doc_id") + 1000))
    flags = run_bounded(near_dup_flags_ttl(stream, horizon_s), "append")
    pairs = flags.distinct()  # the same pair can surface in 2+ bands
    return pairs.groupBy("doc_id").agg(
        F.count("*").alias("n_sources"), F.min("src").alias("first_source")
    )


# ---------------------------------------------------------------------------
# Live corpus token-budget monitor (streaming twin of X132)
# ---------------------------------------------------------------------------

from flink_scala_spark.queries.catalog import QUERIES as _Q  # noqa: E402


@register(
    "streaming_token_budget",
    _Q["corpus_token_budget"].oracle,
    "streaming", "text", "analytics", "mixture",
)
def q_streaming_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X132's mixture report computed over LIVE ingest: documents
    replay through 8 ascending-id microbatches, a complete-mode
    streaming aggregation maintains per-(lang, source) doc/token/max
    counters across batches (map-side combinable, exactly the running
    state a corpus-intake dashboard holds), and the final state feeds
    the same 1-row-total ppm projection as the batch op — so the end
    state must equal the whole-corpus batch aggregate, which is the
    shared oracle. Token counting is row-local BEFORE the shuffle; the
    only state is |lang x source| counter rows."""
    from flink_scala_spark.streaming.runner import run_bounded

    stream = sources.file_replay_id_buckets(
        spark, sf_dir, "documents", "doc_id", 8
    )
    per = stream.where(
        F.col("text").isNotNull() & (F.col("text") != "")
    ).select(
        "lang", "source", F.size(F.split("text", " ")).cast("long").alias("toks")
    )
    agg = per.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("toks").alias("n_tokens"),
        F.max("toks").alias("max_doc_tokens"),
    )
    final = run_bounded(agg, "complete")
    from pyspark.sql import Window as W

    withtot = final.withColumn(
        "all_toks", F.sum("n_tokens").over(W.partitionBy())
    )
    return withtot.select(
        "lang", "source", "n_docs", "n_tokens", "max_doc_tokens",
        F.expr("(1000000 * n_tokens) DIV all_toks").alias("share_ppm"),
    )


# ---------------------------------------------------------------------------
# Streaming ANN serving: query vectors arrive as a stream, scored
# against a STATIC PQ index (X96's machinery behind a live endpoint)
# ---------------------------------------------------------------------------

#: Requests one serving microbatch may carry: ``serve`` collects the
#: batch's query vectors to the driver to build its ADC tables, so the
#: collect is capped here and a larger batch fails loudly instead of
#: filling the driver heap.
MAX_SERVE_BATCH_ROWS = 10_000


@register(
    "streaming_ann_pq_serving",
    _Q["ann_pq_topk"].oracle,
    "streaming", "ann", "pq", "serving",
)
def q_streaming_ann_pq_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-search SERVING as a streaming query: the corpus is
    encoded ONCE into the static PQ index (16-row codebook + 8 code
    bytes/vector — the part that lives in memory at 100 TB), query
    vectors then arrive over ascending-id microbatches and each batch
    builds its ADC lookup tables and scores them against the broadcast
    index inside foreachBatch, APPENDING its top-k to a parquet sink
    table (the idiomatic serving shape — results never accumulate on
    the driver; each batch's rows are bounded at |batch queries| x k
    but the pattern holds at any query rate). Per-query results are
    independent of the batching, so the sink's union over batches must
    equal the batch operator's answer — the oracle is ann_pq_topk's,
    shared verbatim. State: none (the index is static).

    Round 11 (verdict item 5): the index is the PERSISTED artifact
    (similarity.pq_persisted_index) — built once per source
    fingerprint, loaded by every subsequent process, so a serving run
    in a fresh JVM reads ~9 small ints/vector + a 16-row codebook
    instead of re-encoding the corpus and re-scanning it per batch for
    the codebook. Builders are deterministic, so the loaded index is
    bit-identical and the oracle is untouched.

    Round 13 (verdict item 1): the per-batch ADC lookup tables are
    built on the DRIVER (similarity.pq_query_tables_rows — bit-exact
    twin of pq_query_tables, pinned by test) from the batch's query
    payload, which is bounded at |batch requests| by definition of a
    serving batch. That turns each microbatch from [isEmpty job +
    64-col flatten + 8-agg qdt job + broadcast-materialize job +
    score/write job] into [one collect job + one score/write job]
    whose broadcast side is a LocalRelation built without a job —
    2.8s/batch -> ~0.6s/batch measured at sf0.01. The corpus-side
    scale shape is unchanged: the code table stays distributed and
    persisted, scoring is row-local, the only shuffle is the per-query
    top-k."""
    from flink_scala_spark import tables
    from flink_scala_spark.operators import maintenance
    from flink_scala_spark.pipeline import similarity
    from flink_scala_spark.streaming.runner import run_bounded_foreach

    emb = tables.load(spark, sf_dir, "embeddings")
    enc, pq_cb = similarity.pq_persisted_index(emb)
    enc.persist()  # the static index: load once, serve every batch
    try:
        enc.count()

        # 16-row codebook -> driver once; serves every batch's table
        # build (code_id -> flattened centroid doubles, c1..cD order)
        cb_py = {
            int(r[0]): [float(v) for v in r[1:]]
            for r in pq_cb.select(
                "code_id",
                *[F.col(f"c{i}") for i in range(1, similarity.DIM + 1)],
            ).collect()
        }
        qdt_schema = "query_id long, " + ", ".join(
            f"dt{m} array<double>" for m in range(similarity.PQ_M)
        )

        stream = sources.file_replay_id_buckets(
            spark, sf_dir, "embeddings", "vec_id", 8
        ).where(F.col("vec_id") % 50 == 0)

        sink = maintenance.fresh_subdir(
            maintenance.scratch_dir("ann_pq_serving", sf_dir), "sink"
        )

        def serve(batch_df, _bid):
            # one job: the batch's request payload (bounded) -> driver
            rows = (
                batch_df.select("vec_id", "embedding")
                .limit(MAX_SERVE_BATCH_ROWS + 1)
                .collect()
            )
            if not rows:
                return
            if len(rows) > MAX_SERVE_BATCH_ROWS:
                raise RuntimeError(
                    f"streaming_ann_pq_serving: a serving microbatch holds "
                    f"more than {MAX_SERVE_BATCH_ROWS:,} requests, past the "
                    "bound for driver-built ADC tables. Replay the requests "
                    "in smaller batches."
                )
            qdt = spark.createDataFrame(
                similarity.pq_query_tables_rows(
                    [(r[0], r[1]) for r in rows], cb_py
                ),
                qdt_schema,
            )
            top = similarity.pq_adc_topk(enc, qdt, k=5)
            # a batch's top-k is bounded at |batch queries| x k rows —
            # one file per batch, not one per shuffle partition
            top.coalesce(1).write.mode("append").parquet(sink)

        run_bounded_foreach(stream, serve, "append")
        out_schema = (
            "query_id long, neighbor_id long, approx_dist double, rank int"
        )
        if not any(f.endswith(".parquet") for f in os.listdir(sink)):
            return spark.createDataFrame([], out_schema)
        return spark.read.schema(out_schema).parquet(sink)
    finally:
        enc.unpersist()


@register(
    "streaming_value_mad_daily",
    """
    WITH wm AS (
        -- watermark basis = the rows the stream's watermark node
        -- sees: the NULL-value filter sits BEFORE withWatermark, so
        -- a corpus whose max-ts row has NULL value must not close
        -- extra days here
        SELECT CAST(floor(epoch(max(ts))) AS BIGINT) - 10 AS w
        FROM events WHERE value IS NOT NULL
    ),
    e AS (SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 86400) * 86400
                     AS day_start,
                 CAST(floor(value * 100) AS BIGINT) AS cents
          FROM events WHERE value IS NOT NULL),
    h AS (SELECT day_start, cents, CAST(count(*) AS BIGINT) AS cnt
          FROM e, wm WHERE day_start + 86400 <= w GROUP BY 1, 2),
    tot AS (SELECT day_start, CAST(sum(cnt) AS BIGINT) AS n
            FROM h GROUP BY 1),
    hc AS (SELECT h.day_start, h.cents, h.cnt, tot.n,
                  sum(h.cnt) OVER (PARTITION BY h.day_start ORDER BY h.cents
                                   ROWS UNBOUNDED PRECEDING) AS cum
           FROM h JOIN tot USING (day_start)),
    med AS (SELECT day_start, min(cents) AS med_cents FROM hc
            WHERE cum * 2 >= n + (n % 2) GROUP BY 1),
    dev AS (SELECT h.day_start, abs(h.cents - m.med_cents) AS dev,
                   CAST(sum(h.cnt) AS BIGINT) AS cnt
            FROM h JOIN med m USING (day_start) GROUP BY 1, 2),
    dc AS (SELECT d.day_start, d.dev, d.cnt, tot.n,
                  sum(d.cnt) OVER (PARTITION BY d.day_start ORDER BY d.dev
                                   ROWS UNBOUNDED PRECEDING) AS cum
           FROM dev d JOIN tot USING (day_start)),
    mad AS (SELECT day_start, min(dev) AS mad_cents FROM dc
            WHERE cum * 2 >= n + (n % 2) GROUP BY 1),
    outl AS (SELECT d.day_start,
                    CAST(sum(CASE WHEN d.dev > 5 * ma.mad_cents
                                  THEN d.cnt ELSE 0 END) AS BIGINT)
                      AS n_outliers
             FROM dev d JOIN mad ma USING (day_start) GROUP BY 1)
    SELECT t.day_start, t.n,
           CAST(m.med_cents AS BIGINT) AS median_cents,
           CAST(ma.mad_cents AS BIGINT) AS mad_cents,
           o.n_outliers,
           CAST((1000 * o.n_outliers) // t.n AS BIGINT) AS outlier_permille
    FROM tot t JOIN med m USING (day_start)
               JOIN mad ma USING (day_start)
               JOIN outl o USING (day_start)
    """,
    "streaming", "quality", "monitoring", "robust",
)
def q_streaming_value_mad_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`value_mad_outlier_report`'s live twin (X183): per CLOSED event
    day (same watermark rule as the drift monitor), the day's exact
    quantized median, MAD, and >5-MAD outlier count — robust
    distribution monitoring as a continuous query.

    Streaming state is ONE windowed count per (day, cents) — bounded by
    the value DOMAIN per day, not the row count (pin: exactly one
    StateStoreSave); the selection arithmetic runs post-stream on the
    already-closed histogram via the SAME
    behavior.mad_report_from_histogram kernel as the batch report, so
    the two monitors cannot diverge."""
    from flink_scala_spark.pipeline.behavior import mad_report_from_histogram

    ev = sources.file_replay(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("value").isNotNull())
        .select("ts", F.floor(F.col("value") * 100).cast("long").alias("cents"))
        .withWatermark("ts", "10 seconds")
        .groupBy(F.window("ts", "1 day"), "cents")
        .agg(F.count("*").alias("cnt"))
    )
    out = run_bounded(daily, "append").select(
        F.col("window.start").cast("long").alias("day_start"), "cents", "cnt"
    )
    return mad_report_from_histogram(out, "day_start", k_mad=5)


@register(
    "streaming_drift_report",
    """
    WITH wm AS (
        -- watermark basis = the rows the stream's watermark node
        -- sees: the NULL-value filter sits BEFORE withWatermark, so
        -- a corpus whose max-ts row has NULL value must not close
        -- extra days here
        SELECT CAST(floor(epoch(max(ts))) AS BIGINT) - 10 AS w
        FROM events WHERE value IS NOT NULL
    ),
    e AS (SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 86400) * 86400
                     AS day_start,
                 CAST(greatest(least(floor(value / 50.0), 9.0), 0.0) AS INT) AS bin,
                 epoch(ts) < 1705363200 AS is_base
          FROM events WHERE value IS NOT NULL),
    days AS (SELECT DISTINCT day_start FROM e, wm
             WHERE day_start + 86400 <= w),
    grid AS (SELECT day_start, CAST(unnest(range(0, 10)) AS INT) AS bin
             FROM days),
    c AS (SELECT day_start, bin, CAST(count(*) AS BIGINT) AS n_day
          FROM e GROUP BY 1, 2),
    f AS (SELECT g.day_start, g.bin, coalesce(c.n_day, 0) AS n_day
          FROM grid g LEFT JOIN c ON c.day_start = g.day_start
                                 AND c.bin = g.bin),
    t AS (SELECT day_start, CAST(sum(n_day) AS BIGINT) AS t_day
          FROM f GROUP BY 1),
    bc AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_b
           FROM e WHERE is_base GROUP BY 1),
    bf AS (SELECT bins.bin, coalesce(bc.n_b, 0) AS n_b
           FROM (SELECT CAST(unnest(range(0, 10)) AS INT) AS bin) bins
           LEFT JOIN bc ON bc.bin = bins.bin),
    bt AS (SELECT CAST(sum(n_b) AS BIGINT) AS t_b FROM bf),
    r AS (SELECT f.day_start, f.bin, f.n_day,
                 CAST(f.n_day + 1 AS DOUBLE)
                   / CAST(t.t_day + 10 AS DOUBLE) AS p_day,
                 CAST(bf.n_b + 1 AS DOUBLE)
                   / CAST(bt.t_b + 10 AS DOUBLE) AS p_base
          FROM f JOIN t ON t.day_start = f.day_start
                 JOIN bf ON bf.bin = f.bin CROSS JOIN bt)
    SELECT day_start, bin, n_day, p_day, p_base,
           abs(p_day - p_base) / 2.0 AS tv_term,
           (p_day - p_base) * (p_day - p_base) / p_base AS chi2_term
    FROM r
    """,
    "streaming", "drift", "monitoring",
)
def q_streaming_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`distribution_drift_report`'s live twin (X176): per CLOSED event
    day, the day's value-bin distribution scored against the frozen
    batch baseline (the first 15 days) with the same Laplace-smoothed
    ln-free TV/chi-square terms — drift monitoring as a continuous
    query, each day's report final the moment the watermark closes it.

    Streaming state is ONE windowed count per (day, bin) — a fixed
    10-row-per-day key space (pin: exactly one StateStoreSave); the
    drift arithmetic runs post-stream on the already-closed, already-
    tiny report frame (days x 10 rows), including the zero-fill for
    bins a day never observed (explode of a 10-element sequence — no
    join against anything corpus-sized). The baseline side is the
    batch kernel's conditional count: one scan, fixed 10-row output,
    broadcast onto the report."""
    from flink_scala_spark import tables
    from pyspark.sql import Window

    ev = sources.file_replay(spark, sf_dir, "events")
    bin_col = (
        F.greatest(
            F.least(
                F.floor(F.col("value") / F.lit(50.0)).cast("double"),
                F.lit(9.0),
            ),
            F.lit(0.0),
        )
        .cast("int")
        .alias("bin")
    )
    daily = (
        ev.where(F.col("value").isNotNull())
        .select("ts", bin_col)
        .withWatermark("ts", "10 seconds")
        .groupBy(F.window("ts", "1 day"), "bin")
        .agg(F.count("*").alias("n_day"))
    )
    out = run_bounded(daily, "append").select(
        F.col("window.start").cast("long").alias("day_start"), "bin", "n_day"
    )
    # post-stream: zero-fill the day x bin grid, per-day totals
    grid = (
        out.select("day_start")
        .distinct()
        .withColumn("bin", F.explode(F.sequence(F.lit(0), F.lit(9))))
        .select("day_start", F.col("bin").cast("int").alias("bin"))
    )
    f = grid.join(out, ["day_start", "bin"], "left").na.fill({"n_day": 0})
    f = f.withColumn(
        "t_day", F.sum("n_day").over(Window.partitionBy("day_start"))
    )
    # frozen baseline: batch conditional count over the first 15 days
    base = (
        tables.load(spark, sf_dir, "events")
        .where(epoch_seconds("ts") < F.lit(1_705_363_200))
        .where(F.col("value").isNotNull())
        .select(bin_col)
        .groupBy("bin")
        .agg(F.count("*").alias("n_b"))
    )
    bins = spark.range(10).select(F.col("id").cast("int").alias("bin"))
    bf = bins.join(base, "bin", "left").na.fill({"n_b": 0})
    bf = bf.withColumn("t_b", F.sum("n_b").over(Window.partitionBy()))
    j = f.join(F.broadcast(bf), "bin")
    p_day = (F.col("n_day") + F.lit(1)).cast("double") / (
        F.col("t_day") + F.lit(10)
    ).cast("double")
    p_base = (F.col("n_b") + F.lit(1)).cast("double") / (
        F.col("t_b") + F.lit(10)
    ).cast("double")
    r = j.select(
        "day_start", "bin", "n_day",
        p_day.alias("p_day"), p_base.alias("p_base"),
    )
    d = F.col("p_day") - F.col("p_base")
    return r.select(
        "day_start", "bin", "n_day", "p_day", "p_base",
        (F.abs(d) / F.lit(2.0)).alias("tv_term"),
        (d * d / F.col("p_base")).alias("chi2_term"),
    )


@register(
    "streaming_cusum_daily",
    """
    WITH wm AS (
        -- watermark basis = the rows the stream's watermark node
        -- sees: the NULL-value filter sits BEFORE withWatermark, so
        -- a corpus whose max-ts row has NULL value must not close
        -- extra days here
        SELECT CAST(floor(epoch(max(ts))) AS BIGINT) - 10 AS w
        FROM events WHERE value IS NOT NULL
    ),
    e AS (SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 86400) * 86400
                     AS day_start,
                 CAST(floor(value * 100) AS BIGINT) AS cents
          FROM events WHERE value IS NOT NULL),
    daily AS (SELECT day_start, CAST(sum(cents) AS BIGINT) AS day_cents
              FROM e, wm WHERE day_start + 86400 <= w GROUP BY 1),
    tot AS (SELECT CAST(sum(day_cents) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS n FROM daily),
    idx AS (
        SELECT day_start, day_cents,
               row_number() OVER (ORDER BY day_start) AS t,
               sum(day_cents) OVER (ORDER BY day_start
                   ROWS UNBOUNDED PRECEDING) AS cum_cents
        FROM daily
    ),
    cs AS (
        SELECT day_start, day_cents,
               CAST(cum_cents AS BIGINT) AS cum_cents,
               CAST(cum_cents - t * (tot.total // tot.n) AS BIGINT)
                 AS cusum_cents
        FROM idx CROSS JOIN tot
    )
    SELECT day_start, day_cents, cum_cents, cusum_cents,
           CAST(row_number() OVER (ORDER BY abs(cusum_cents) DESC, day_start)
                AS INT) AS dev_rank
    FROM cs
    """,
    "streaming", "changepoint", "monitoring",
)
def q_streaming_cusum_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`revenue_cusum_changepoint`'s live twin (X193): per CLOSED event
    day (the drift/MAD monitors' watermark rule), the day's exact cents
    total, then the CUSUM changepoint scan over the closed-day table —
    continuous mean-shift monitoring as a streaming query.

    Streaming state is ONE windowed sum per day (bounded by the
    calendar, the smallest state any monitor here carries); the
    changepoint arithmetic runs post-stream on the bounded day table
    via the SAME behavior.cusum_over_daily kernel as the batch scan,
    so the two monitors cannot diverge."""
    from flink_scala_spark.pipeline.behavior import cusum_over_daily

    ev = sources.file_replay(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("value").isNotNull())
        .select("ts", F.floor(F.col("value") * 100).cast("long").alias("cents"))
        .withWatermark("ts", "10 seconds")
        .groupBy(F.window("ts", "1 day"))
        .agg(F.sum("cents").alias("day_cents"))
    )
    closed = run_bounded(daily, "append").select(
        F.col("window.start").cast("long").alias("day_start"), "day_cents"
    )
    return cusum_over_daily(closed, "day_start", "day_cents")


@register(
    "streaming_k_anonymity_daily",
    """
    WITH wm AS (
        -- watermark basis = the rows the stream's watermark node
        -- sees: the NULL-value filter sits BEFORE withWatermark, so
        -- a corpus whose max-ts row has NULL value must not close
        -- extra days here
        SELECT CAST(floor(epoch(max(ts))) AS BIGINT) - 10 AS w
        FROM events WHERE value IS NOT NULL
    ),
    cls AS (
        SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 86400) * 86400
                   AS day_start,
               event_type,
               CAST(floor(value / 100.0) AS BIGINT) AS value_band,
               CAST(count(*) AS BIGINT) AS class_size
        FROM events WHERE value IS NOT NULL
        GROUP BY 1, 2, 3
    ),
    closed AS (SELECT cls.* FROM cls, wm WHERE day_start + 86400 <= w)
    SELECT day_start,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(class_size) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (WHERE class_size < 5) AS BIGINT)
             AS classes_below_5,
           CAST(coalesce(sum(class_size) FILTER (WHERE class_size < 5), 0)
                AS BIGINT) AS rows_at_risk_5
    FROM closed GROUP BY 1
    """,
    "streaming", "governance", "privacy",
)
def q_streaming_k_anonymity_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`k_anonymity_audit` live per watermark-closed day (X201, 39th
    live streaming entry): equivalence classes by (event type, value
    band) within each closed day, reporting class count and the rows
    re-identifiable within < 5 candidates — the privacy monitor as a
    continuous query. Day-of-week drops out of the QI (constant within
    a day); the policy threshold is fixed at k=5 so the stream carries
    ONE windowed count per (day, type, band) — state bounded by the QI
    domain per day, the same tier as the drift/MAD/CUSUM monitors."""
    ev = sources.file_replay(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("value").isNotNull())
        .select(
            "ts",
            "event_type",
            F.floor(F.col("value") / 100.0).cast("long").alias("value_band"),
        )
        .withWatermark("ts", "10 seconds")
        .groupBy(F.window("ts", "1 day"), "event_type", "value_band")
        .agg(F.count("*").alias("class_size"))
    )
    closed = run_bounded(daily, "append").select(
        F.col("window.start").cast("long").alias("day_start"), "class_size"
    )
    return closed.groupBy("day_start").agg(
        F.count("*").cast("long").alias("n_classes"),
        F.sum("class_size").cast("long").alias("n_rows"),
        F.sum((F.col("class_size") < 5).cast("long")).alias("classes_below_5"),
        F.sum(
            F.when(F.col("class_size") < 5, F.col("class_size")).otherwise(F.lit(0))
        ).alias("rows_at_risk_5"),
    )


from flink_scala_spark.queries.catalog import ROLLING_UD_SQL as _ROLLING_UD  # noqa: E402


@register(
    "streaming_rolling_distinct_daily",
    # the ud/grid/fan/roll CTE block is THE shared rolling-distinct
    # definition (catalog.ROLLING_UD_SQL) — the live monitor's
    # oracle and the two batch twins pin one ground truth
    f"""
    WITH wm AS (
        SELECT CAST(floor(epoch(max(ts))) AS BIGINT) - 10 AS w FROM events
    ),
    {_ROLLING_UD}
    SELECT CAST(td * 86400 AS BIGINT) AS day_start,
           users_7d AS exact_users_7d,
           -- DATA-DEPENDENT bound (round-10 ADVICE): lgK=12 gives ~1.6%
           -- RSE, so 5% is ~3 sigma — deterministic for the shipped
           -- generators at every sf, but a future dataset could
           -- legitimately exceed it on one group; a sweep failure
           -- here is a STATISTICAL event to triage, not a regression
           TRUE AS estimate_within_5pct
    FROM roll, wm WHERE td * 86400 + 86400 <= wm.w
    """,
    "streaming", "sliding-distinct", "sketch",
)
def q_streaming_rolling_distinct_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`rolling_distinct_users_hll` live (X209, 40th live entry): the
    stream maintains ONE fixed-size Datasketches HLL per closed event
    day (a single windowed agg — O(sketch) state per day regardless of
    user cardinality, the production sliding-distinct shape); the
    rolling 7-day union then MERGES the emitted day-grain sketches
    post-stream (HLL register merge is an elementwise max, so the
    estimate is partitioning- and merge-order-proof). The exact branch
    is a post-hoc batch audit over the same files (the X159
    exact-branch-is-the-checker contract), restricted to the days the
    stream's watermark actually closed; the projection emits the exact
    rolling count plus the within-5% certificate the oracle pins
    literally TRUE."""
    from flink_scala_spark import tables
    from flink_scala_spark.pipeline import behavior

    ev = sources.file_replay(spark, sf_dir, "events")
    daily = (
        ev.withWatermark("ts", "10 seconds")
        .groupBy(F.window("ts", "1 day"))
        .agg(F.expr("hll_sketch_agg(user_id)").alias("sk"))
    )
    closed = run_bounded(daily, "append").select(
        F.expr("CAST(window.start AS LONG) DIV 86400").alias("d"), "sk"
    )
    grid = closed.select("d")
    fan = closed.select(
        F.explode(F.sequence(F.col("d"), F.col("d") + F.lit(6))).alias("td"),
        "sk",
    )
    est = (
        fan.join(grid.select(F.col("d").alias("td")), "td", "leftsemi")
        .groupBy("td")
        .agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sk))")
            .cast("long")
            .alias("approx_users")
        )
    )
    batch = tables.load(spark, sf_dir, "events")
    wm = batch.agg((F.max(epoch_seconds("ts")) - 10).alias("w"))
    exact = behavior.rolling_distinct_users(batch).select(
        "day_s", F.col("users_7d").alias("exact_users_7d")
    )
    return (
        exact.join(est, exact["day_s"] == est["td"] * 86400)
        .crossJoin(F.broadcast(wm))
        .where(F.col("day_s") + 86400 <= F.col("w"))
        .select(
            F.col("day_s").alias("day_start"),
            "exact_users_7d",
            (
                F.abs(F.col("approx_users") - F.col("exact_users_7d")) * 20
                <= F.col("exact_users_7d")
            ).alias("estimate_within_5pct"),
        )
    )

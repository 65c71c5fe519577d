"""The benchmark's workloads and the loops that drive them.

Batch workloads run catalog entries in passes: untimed warm passes
(the first collects the rows kept for the output check), then timed
passes until the run's seconds are spent. The live workload
composes the reference's order dashboard from public functions and
runs it open-loop at a fixed offered rate.
"""

from __future__ import annotations

import gc
import importlib.util
import os
import random
import threading
import time
from dataclasses import dataclass, field

import procstat

#: JVM-only scan/join/agg/window work: the control for Python, state
#: and sink changes.
BATCH_RELATIONAL = (
    "order_dashboard_total",
    "order_dashboard_province",
    "lineitem_pricing_summary",
    "revenue_cube",
    "nation_trade_flow",
    "tumbling_window_counts",
    "session_windows",
    "asof_join_purchase_click",
)
#: LLM-data operators: Arrow/Python UDF traffic, materialize, pair joins.
BATCH_PIPELINE = (
    "dedup_minhash_lsh",
    "embedding_near_dup",
    "kmeans_assignments",
    "text_fingerprint",
    "bpe_encode",
)
#: Untimed passes before the timed ones. Entry times fall for about
#: three passes while the JIT compiles; a slow host makes fewer timed
#: passes in its seconds, so a shorter warm-up would let host speed
#: decide how much of that fall the timed passes see.
WARM_PASSES = 3
#: catalog entries of each batch workload
ENTRY_WORKLOADS = {
    "batch_relational": BATCH_RELATIONAL,
    "batch_pipeline": BATCH_PIPELINE,
}

#: Offered order rate of the live dashboard (orders/s).
LIVE_RATE = 20_000
#: Data micro-batches run before the measured window opens (trigger
#: times fall over the first ~20 while the JIT compiles; the window
#: medians see the tail of that fall).
LIVE_WARM_BATCHES = 15
#: A live micro-batch whose newest result is older than this at commit
#: counts as failed: only a growing backlog gets near it (the floor is
#: one trigger, ~0.4 s).
LIVE_LATENCY_LIMIT_S = 5.0


def check_oracle_module(root: str):
    """``tools/check_oracle.py`` of the checkout under test, for its
    DuckDB connection and result normalization."""
    path = os.path.join(root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@dataclass
class PassLog:
    """What the timed passes of one run measured."""

    pass_s: list[float] = field(default_factory=list)
    traced: list[bool] = field(default_factory=list)
    #: (start, end, traced) of each timed pass, or of each live window
    windows: list[tuple[float, float, bool]] = field(default_factory=list)
    #: (seconds, traced): entry times, or live result latencies
    latency: list[tuple[float, bool]] = field(default_factory=list)
    #: entry -> (seconds, traced) of each timed execution (batch only)
    entry_s: dict[str, list[tuple[float, bool]]] = field(default_factory=dict)
    #: unadjusted wall time of each pass (live: trigger)
    wall_s: list[float] = field(default_factory=list)
    #: share of the CPU time wanted that the host granted, per operation
    granted: list[float] = field(default_factory=list)
    #: (CPU seconds per minute, traced) of each second of live stream
    cpu_s: list[tuple[float, bool]] = field(default_factory=list)
    #: entry -> (CPU seconds, traced) of each timed execution (batch only)
    entry_cpu: dict[str, list[tuple[float, bool]]] = field(default_factory=dict)
    #: (MB, traced): peak resident memory of each pass (live: second)
    rss_mb: list[tuple[float, bool]] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)


class EntryWorkload:
    """Runs catalog entries pass by pass and checks them against their
    DuckDB oracles."""

    def __init__(self, ctx, entries: tuple[str, ...]):
        from flink_scala_spark.queries import catalog

        self.ctx = ctx
        self.specs = {n: catalog.QUERIES[n] for n in entries}
        self.warm_rows: dict[str, tuple[list[str], list[tuple]]] = {}
        self.counts: dict[str, list[int]] = {n: [] for n in entries}

    def _order(self, tag: str) -> list[str]:
        order = list(self.specs)
        random.Random(f"{self.ctx.seed}:{tag}").shuffle(order)
        return order

    def _run(self, name: str, tag: str, collect: bool):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        spark, tracer = self.ctx.spark, self.ctx.tracer
        spark.catalog.clearCache()
        gc.collect()
        label = f"{name}:{tag}"
        spark.sparkContext.setJobGroup(label, label)
        spark.sparkContext.setJobDescription(label)
        tracer.entry, tracer.pass_ = name, tag
        with tracer.span("entry"):
            h0, cpu0, t0 = procstat.host_ticks(), self.ctx.cpu(), time.perf_counter()
            with tracer.span("queries.build"):
                df = self.specs[name].fn(spark, self.ctx.data_dir)
            with tracer.span("queries.action"):
                if collect:
                    out = (df.columns, [tuple(r) for r in df.collect()])
                else:
                    obs = Observation()
                    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                        "noop"
                    ).mode("overwrite").save()
                    out = obs.get["n"]
            wall = time.perf_counter() - t0
            cpu = self.ctx.cpu() - cpu0
            share = procstat.granted(h0, procstat.host_ticks())
        del df
        return wall, share, cpu, out

    def warm(self, passes: int) -> None:
        """Untimed passes; the first keeps every entry's rows for
        :meth:`check`."""
        for name in self._order("warm"):
            *_, self.warm_rows[name] = self._run(name, "warm", collect=True)
        for i in range(1, passes):
            for name in self._order(f"warm{i}"):
                self._run(name, f"warm{i}", collect=False)

    def timed_pass(self, index: int, log: PassLog, traced: bool, peak) -> None:
        tag = str(index)
        total = wall_total = 0.0
        peak.take()
        start = time.time()
        for name in self._order(tag):
            log.attempted += 1
            try:
                wall, share, cpu, n = self._run(name, tag, collect=False)
            except Exception as e:  # a failing entry is a failed operation
                log.fail(f"{name}:{tag}: {type(e).__name__}: {str(e)[:300]}")
                continue
            total += wall * share
            wall_total += wall
            log.granted.append(share)
            log.latency.append((wall * share, traced))
            log.entry_s.setdefault(name, []).append((wall * share, traced))
            log.entry_cpu.setdefault(name, []).append((cpu, traced))
            self.counts[name].append(n)
        log.rss_mb.append((peak.take(), traced))
        log.windows.append((start, time.time(), traced))
        log.pass_s.append(total)
        log.wall_s.append(wall_total)
        log.traced.append(traced)

    def check(self, log: PassLog) -> None:
        """Compare each entry's warm-pass rows, and every timed pass's
        row count, with the entry's DuckDB oracle."""
        co = check_oracle_module(self.ctx.root)
        con = co.duck_con(self.ctx.data_dir)
        try:
            for name, spec in self.specs.items():
                log.attempted += 1
                tbl = con.execute(spec.oracle).fetch_arrow_table()
                d_cols = tbl.schema.names
                d_rows = [tuple(r[c] for c in d_cols) for r in tbl.to_pylist()]
                s_cols, s_rows = self.warm_rows[name]
                if sorted(s_cols) != sorted(d_cols):
                    log.fail(f"{name}: columns {sorted(s_cols)} != {sorted(d_cols)}")
                elif co.df_to_sorted_rows(s_cols, s_rows)[1] != co.df_to_sorted_rows(
                    d_cols, d_rows
                )[1]:
                    log.fail(f"{name}: values differ from the oracle")
                bad = [n for n in self.counts[name] if n != len(d_rows)]
                if bad:
                    log.fail(f"{name}: timed row counts {bad} != {len(d_rows)}")
        finally:
            con.close()


class LiveDashboard:
    """``rate_orders`` -> day x province running totals (update mode) ->
    ``foreachBatch`` exactly-once DuckDB upsert, open loop at
    :data:`LIVE_RATE` orders/s.

    Each result's latency is its commit time minus its
    ``max(pay_time)``, the creation time of the newest order it
    includes. ``max(pay_time)`` is read back from the upsert table, not
    from a second Spark job over the batch.
    """

    TABLE = "dashboard"
    DDL = (
        "CREATE TABLE IF NOT EXISTS dashboard(order_day INTEGER, province VARCHAR, "
        "total_num BIGINT, total_money DECIMAL(38, 2), last_pay_time TIMESTAMP, "
        "batch_id BIGINT, PRIMARY KEY (order_day, province))"
    )

    def __init__(self, ctx):
        self.ctx = ctx
        self.db = os.path.join(ctx.work, "dashboard.duckdb")
        #: batch id -> (commit time, result latencies, host_ticks at commit)
        self.commits: dict[int, tuple[float, list[float], tuple[int, int]]] = {}
        self.windows: list[tuple[float, float, bool]] = []
        self.stopping = False
        self.stop_seen = threading.Event()
        self._cond = threading.Condition()
        self.query = None

    def _on_batch(self, batch_df, batch_id: int) -> None:
        import duckdb
        from pyspark.sql import functions as F

        if self.stopping:
            # Spark requires every partition of a stateful batch to be
            # consumed; this last batch is drained but not upserted.
            batch_df.write.format("noop").mode("overwrite").save()
            self.stop_seen.set()
            return
        with self.ctx.tracer.span("sinks"):
            self.writer(batch_df.withColumn("batch_id", F.lit(batch_id).cast("bigint")), batch_id)
        committed, ticks = time.time(), procstat.host_ticks()
        con = duckdb.connect(self.db)
        try:
            pays = con.execute(
                f"SELECT epoch_us(last_pay_time) FROM {self.TABLE} WHERE batch_id = ?",
                [batch_id],
            ).fetchall()
        finally:
            con.close()
        with self._cond:
            self.commits[batch_id] = (committed, [committed - p / 1e6 for (p,) in pays], ticks)
            self._cond.notify_all()

    def start(self) -> None:
        from pyspark.sql import functions as F

        from flink_scala_spark.operators import dashboard
        from flink_scala_spark.streaming import sinks, sources

        spark = self.ctx.spark
        self.writer = sinks.DuckDBUpsertWriter(
            self.db, self.TABLE, ["order_day", "province"],
            ["total_num", "total_money", "last_pay_time", "batch_id"],
            self.DDL, mode="replace",
        )
        totals = (
            sources.rate_orders(spark, rows_per_second=LIVE_RATE)
            .groupBy(dashboard.day_bucket("pay_time"), "province")
            .agg(
                F.count("*").alias("total_num"),
                F.sum("money").alias("total_money"),
                F.max("pay_time").alias("last_pay_time"),
            )
        )
        self.query = (
            totals.writeStream.outputMode("update")
            .foreachBatch(self._on_batch)
            .option("checkpointLocation", os.path.join(self.ctx.work, "live_ckpt"))
            .start()
        )

    def wait_batches(self, n: int, timeout: float) -> None:
        deadline = time.time() + timeout
        with self._cond:
            while len(self.commits) < n:
                if not self._cond.wait(timeout=max(0.0, deadline - time.time())):
                    raise TimeoutError(f"live query committed {len(self.commits)} of {n} batches")

    def window(self, seconds: float, traced: bool, log: PassLog, peak) -> None:
        """Let ``seconds`` of stream pass, taking the peak resident
        memory and the CPU rate of every second; the batches committed
        inside become passes once :meth:`stop_and_check` has their
        progress."""
        start = t0 = time.time()
        cpu0 = self.ctx.cpu()
        peak.take()
        while time.time() < start + seconds:
            time.sleep(min(1.0, start + seconds - time.time()))
            log.rss_mb.append((peak.take(), traced))
            t1, cpu1 = time.time(), self.ctx.cpu()
            if t1 - t0 >= 0.5:  # a short last slice would read coarse ticks
                log.cpu_s.append(((cpu1 - cpu0) / (t1 - t0) * 60.0, traced))
            t0, cpu0 = t1, cpu1
        self.windows.append((start, time.time(), traced))

    def stop_and_check(self, log: PassLog) -> dict[int, dict]:
        """Stop between triggers, fill ``log`` from the measured
        windows, and check exactly-once: the upsert table's summed
        ``total_num`` equals the summed ``numInputRows`` of the
        committed batches. Returns each batch's progress by id."""
        import duckdb

        self.stopping = True
        self.stop_seen.wait(timeout=15)
        progress = {p["batchId"]: p for p in self.query.recentProgress}
        self.query.stop()
        self.query.awaitTermination(30)
        for start, end, traced in self.windows:
            batches = sorted(b for b, (t, *_) in self.commits.items() if start < t <= end)
            if not batches:
                log.attempted += 1
                log.fail(f"live window of {end - start:.1f} s committed no batch")
            for b in batches:
                _, lats, ticks = self.commits[b]
                prev = self.commits[max(k for k in self.commits if k < b)][2]
                share = procstat.granted(prev, ticks)
                trigger_s = progress[b]["durationMs"]["triggerExecution"] / 1e3
                log.attempted += 1
                log.granted.append(share)
                log.wall_s.append(trigger_s)
                log.pass_s.append(trigger_s * share)
                log.traced.append(traced)
                log.latency.extend((lat * share, traced) for lat in lats)
                if not lats or max(lats) > LIVE_LATENCY_LIMIT_S:
                    log.fail(f"live batch {b}: newest result {max(lats, default=None)} s old")
            log.windows.append((start, end, traced))
        last = max(self.commits)
        expected = sum(int(p["numInputRows"]) for b, p in progress.items() if b <= last)
        con = duckdb.connect(self.db)
        try:
            (got,) = con.execute(f"SELECT sum(total_num) FROM {self.TABLE}").fetchone()
        finally:
            con.close()
        log.attempted += 1
        missing = sorted(set(self.commits) - set(progress))
        if int(got or 0) != expected or missing:
            log.fail(
                f"live exactly-once: table holds {got} orders, input had {expected}; "
                f"batches without progress: {missing}"
            )
        return progress

"""The repo's benchmark: one workload, one seed, one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It generates the inputs from the seed
(``datagen.py``), starts the engine's tuned session on
:data:`SPARK_CORES` cores, runs untimed warm
passes, then timed passes for ``--seconds`` (at least
:data:`MIN_PASSES`), checks every output
against the catalog's DuckDB oracles, and prints one line per metric
(value, unit, sample count) followed by the result as one JSON object
on the last line of stdout. The full record -- host stamp, sample
counts, per-pass and per-entry times, errors -- is written to
``.bench_results/`` in the checkout. Exit code 1 means an output check
failed; 2 means the engine is not importable from the checkout.

Workloads (``workloads.py``): ``batch_relational`` and
``batch_pipeline`` time each catalog entry's builder call plus a
noop-sink write (the row count rides on ``observe()``);
``live_dashboard`` runs the reference's order dashboard open-loop at
20,000 orders/s. The seed picks the inputs and permutes entry order in
every pass. ``BENCHMARK.json`` lists ``batch_pipeline`` and
``live_dashboard``, which between them reach every layer. The control
``batch_relational`` runs by hand; it is left out there to keep a full
comparison (tens of ~1 min runs per workload) within an hour.

End-to-end metrics (``--trace 0``). Their times are steal-adjusted:
on a shared virtual machine the hypervisor withholds CPU time from
the guest while neighbours are busy (``steal`` in ``/proc/stat``),
which slowed the same work by up to 2.5x from one run to the next on a
4-vCPU guest. Each time is therefore its wall time multiplied by the
share of the CPU time the machine wanted over that interval that it
was given (busy / (busy + steal), machine-wide), taken per entry
execution, per live trigger, and over the set-up. Without steal the
factor is 1. The record keeps the unadjusted pass times and the
granted shares.

- ``setup_s``: process start until the first timed pass (input
  generation, session start, warm passes; live: the warm-up batches).
  One sample per run: a set-up is a JVM launch plus JIT-cold passes,
  too long to repeat within one run.
- ``pass_s``: time of one pass over the entries, as the sum of each
  entry's median (live: median time of one micro-batch trigger).
- ``cpu_s``: CPU seconds of this process, the driver JVM and its
  Python workers per pass, as the sum of each entry's median (live:
  per minute of stream, the median over its seconds).
- ``peak_rss_mb``: median over the timed passes (live: over the seconds
  of stream) of the peak summed resident memory (PSS) of those
  processes.
- ``event_latency_p50_s``: median time from input to result: per entry
  execution (batch), or per dashboard result from the creation of its
  newest order to the commit of its upsert (live).

``error_rate`` is printed too; the result line carries it as
``failed / attempted``. An operation is one entry execution, one output
check or one live micro-batch.

``--trace 1`` is the traced run. It wraps the calls into the engine's
layers in spans (``spans.py``), turns on Spark's event log (reduced by
``eventlog.py``), and registers a ``StreamingQueryListener``. Timed
passes alternate traced and untraced, so ``trace.overhead_s`` comes
from one process; layer numbers (:data:`PER_LAYER`) come from the
traced passes and are per pass (live: per micro-batch), with span
times as self time. ``scaling.pass_s_1core`` is the run's own untraced
``pass_s``; the workload then runs once more in a child process on
every CPU for ``scaling.pass_s_allcpus`` (one warm and one timed pass,
so it carries more JIT warm-up than ``pass_s``).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

import datagen  # noqa: E402
import eventlog  # noqa: E402
import procstat  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer, progress_listener  # noqa: E402

WORKLOADS = (*workloads.ENTRY_WORKLOADS, "live_dashboard")
#: Scale factor of the generated inputs (sf0.01: 60k lineitem rows).
SF = 0.01
#: Driver heap unless SPARK_GRAFT_DRIVER_MEM says otherwise: the
#: engine's own default (48g) exceeds small hosts.
DRIVER_MEM = "3g"
#: Spark cores of the measured session. The inputs are small, so more
#: cores buy little (pipeline pass_s 4.3 s on 2 or 4 cores, 4.9 s on
#: one, on a 4-vCPU guest) and cost steadiness: a Python-UDF task keeps
#: its JVM thread and a Python worker busy at once, and with busy
#: threads on every vCPU the host's steal delays the threads that wait
#: on them by more than the stolen share. Pipeline pass_s spread
#: (IQR/median over seeds) was 14% on two cores, 2% on one.
SPARK_CORES = 1
#: Driver JVM heap sizing: with G1's adaptive sizing the heap grows in
#: steps timed by GC-time ratios, so resident memory spread by a third
#: between runs of the same work; a fixed young generation and initial
#: heap make it follow the work.
HEAP_FLAGS = "-Xms1g -Xmn256m"
#: Wall-clock cap of one invocation, child run included.
DEADLINE_S = 170
#: Timed passes an untraced batch run makes even past ``--seconds``
#: (a traced one makes at least four: traced, untraced, untraced, traced).
MIN_PASSES = 3

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "cpu_s": "CPU-s",
    "peak_rss_mb": "MB",
    "event_latency_p50_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "queries.build_s": "s",
    "queries.action_s": "s",
    "tables.load_calls": "count",
    "tables.load_s": "s",
    "materialize.calls": "count",
    "materialize.s": "s",
    **{
        f"{'pipeline' if f.startswith('python') else 'spark'}.{f}": unit
        for f, unit in eventlog.FIELDS.items()
    },
    "runner.triggers": "count",
    "runner.data_trigger_ratio": "ratio",
    "runner.trigger_s": "s",
    "runner.query_planning_s": "s",
    "runner.add_batch_s": "s",
    "runner.wal_commit_s": "s",
    "runner.commit_offsets_s": "s",
    "runner.latest_offset_s": "s",
    "runner.outside_trigger_s": "s",
    "state.commit_s": "s",
    "state.update_s": "s",
    "state.remove_s": "s",
    "state.rows_total": "count",
    "state.memory_mb": "MB",
    "sinks.calls": "count",
    "sinks.upsert_p50_s": "s",
    "sinks.upsert_s": "s",
    "live.latency_p95_s": "s",
    "live.rows_per_trigger_p50": "count",
    "live.offered_rows": "count",
    "live.processed_rows": "count",
    "scaling.pass_s_1core": "s",
    "scaling.pass_s_allcpus": "s",
    "trace.overhead_s": "s",
}


class Ctx:
    """What one run shares between its parts."""

    def __init__(self, args, work: str):
        self.root = ROOT
        self.work = work
        self.seed = args.seed
        self.ticks0 = procstat.host_ticks()
        self.data_dir = os.path.join(work, "data")
        self.tracer = Tracer(enabled=False)
        self.spark = None

    @staticmethod
    def cpu() -> float:
        return procstat.cpu_seconds()


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--baseline", action="store_true",
                   help="session on every CPU, one warm and one timed pass "
                   "(the traced run's scaling.pass_s_allcpus child)")
    return p.parse_args(argv)


def prepare_env(work: str, trace: bool) -> None:
    """Keep every file Spark, its workers and tempfile write inside the
    checkout, and turn on the event log for the traced run."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "local"), os.path.join(work, "eventlog")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    # -UsePerfData: no /tmp/hsperfdata file, so nothing is written outside the checkout
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} {HEAP_FLAGS} -XX:-UsePerfData"]
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def git_commit() -> str | None:
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(ROOT, ".git", ref[5:])) as f:
            return f.read().strip()
    except OSError:
        return None  # not a git checkout, or a packed ref


def host_stamp(args, spark) -> dict:
    import duckdb
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": round(mem_kb / 1024),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "session_cores": spark.sparkContext.defaultParallelism,
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "git_commit": git_commit(),
    }


def stop_spark(spark) -> None:
    """Stop the session, end the gateway JVM and wait until every
    process it started (worker daemon, workers) has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    started = [p for p in procstat.tree() if p != os.getpid()]
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 10
    while True:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.1)


def summary(values: list[float]) -> dict:
    """Median with its sample count, and the highest of p99/p95/p90/p75
    that has at least ten samples beyond it."""
    if not values:
        return {"median": 0.0, "n": 0}
    out = {"median": statistics.median(values), "n": len(values)}
    for p in (99, 95, 90, 75):
        if len(values) * (100 - p) >= 1000:
            out[f"p{p}"] = statistics.quantiles(values, n=100)[p - 1]
            break
    return out


def plain(pairs) -> list[float]:
    """The untraced values of ``(value, traced)`` pairs."""
    return [v for v, traced in pairs if not traced]


def per_entry_sum(samples: dict[str, list[tuple[float, bool]]]) -> dict:
    """One pass as the sum of each entry's median untraced value."""
    per_entry = [plain(v) for v in samples.values()]
    return {
        "median": sum(statistics.median(v) for v in per_entry),
        "n": min(len(v) for v in per_entry),
    }


def end_to_end(log: workloads.PassLog, setup_s: float) -> dict:
    """End-to-end summaries over the untraced passes."""
    if log.entry_s:
        pass_s, cpu_s = per_entry_sum(log.entry_s), per_entry_sum(log.entry_cpu)
    else:
        pass_s = summary(plain(zip(log.pass_s, log.traced)))
        cpu_s = summary(plain(log.cpu_s))
    return {
        "setup_s": {"median": setup_s, "n": 1},
        "pass_s": pass_s,
        "cpu_s": cpu_s,
        "peak_rss_mb": summary(plain(log.rss_mb)),
        "event_latency_p50_s": summary(plain(log.latency)),
    }


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def layer_metrics(ctx, live: bool, log, listener, log_dir: str) -> dict:
    """:data:`PER_LAYER` from the traced passes (live: traced window),
    except the ``scaling`` pair, which needs the untraced passes and a
    child run."""
    tracer = ctx.tracer
    windows = [(s, e) for s, e, traced in log.windows if traced]
    n = sum(log.traced) or 1
    inside = lambda t: any(s <= t <= e for s, e in windows)  # noqa: E731
    own = tracer.self_times()
    by_id = {s.id: s for s in tracer.spans}
    traced_spans = [s for s in tracer.spans if inside(s.start)]

    def layer(name):
        spans = [s for s in traced_spans if s.name == name]
        return spans, sum(own[s.id] for s in spans)

    m: dict[str, float] = {}
    m["session.start_s"] = sum(s.end - s.start for s in tracer.spans if s.name == "session")
    m["queries.build_s"] = layer("queries.build")[1] / n
    m["queries.action_s"] = layer("queries.action")[1] / n
    spans, t = layer("tables.load")
    m["tables.load_calls"], m["tables.load_s"] = len(spans) / n, t / n
    spans, t = layer("materialize")
    top = [s for s in spans if s.parent is None or by_id[s.parent].name != "materialize"]
    m["materialize.calls"], m["materialize.s"] = len(top) / n, t / n

    # Spark work from the event log, per entry execution (live: window)
    if live:
        keys = [(f"live:{i}", s, e) for i, (s, e) in enumerate(windows)]
    else:
        keys = [(f"{s.entry}:{s.pass_}", s.start, s.end) for s in traced_spans if s.name == "entry"]
    per = eventlog.reduce(log_dir, keys)
    for f in eventlog.FIELDS:
        vals = [w[f] for w in per.values()]
        agg = max(vals, default=0.0) if f == "task_skew" else sum(vals) / n
        m[f"pipeline.{f}" if f.startswith("python") else f"spark.{f}"] = agg

    # trigger phases and state from the listener (live only: the batch
    # workloads run no streaming query, so these stay 0 there)
    prog = [p for p in listener.progress if inside(_epoch(p["timestamp"]))]
    phase = lambda k: sum(p["durationMs"].get(k, 0) for p in prog) / 1e3 / n  # noqa: E731
    state = lambda p, k: sum(o.get(k, 0) for o in p.get("stateOperators", ()))  # noqa: E731
    m["runner.triggers"] = len(prog) / n
    m["runner.data_trigger_ratio"] = (
        sum(1 for p in prog if p["numInputRows"] > 0) / len(prog) if prog else 0.0
    )
    m["runner.trigger_s"] = phase("triggerExecution")
    m["runner.query_planning_s"] = phase("queryPlanning")
    m["runner.add_batch_s"] = phase("addBatch")
    m["runner.wal_commit_s"] = phase("walCommit")
    m["runner.commit_offsets_s"] = phase("commitOffsets")
    m["runner.latest_offset_s"] = phase("latestOffset")
    spanned = sum(e - s for s, e in windows) if live else 0.0
    m["runner.outside_trigger_s"] = max(0.0, spanned / n - m["runner.trigger_s"])
    m["state.commit_s"] = sum(state(p, "commitTimeMs") for p in prog) / 1e3 / n
    m["state.update_s"] = sum(state(p, "allUpdatesTimeMs") for p in prog) / 1e3 / n
    m["state.remove_s"] = sum(state(p, "allRemovalsTimeMs") for p in prog) / 1e3 / n
    end = max(prog, key=lambda p: p["batchId"], default={})
    m["state.rows_total"] = state(end, "numRowsTotal")
    m["state.memory_mb"] = state(end, "memoryUsedBytes") / 1e6

    sink_s = [s.end - s.start for s in traced_spans if s.name == "sinks"]
    m["sinks.calls"] = len(sink_s) / n
    m["sinks.upsert_p50_s"] = statistics.median(sink_s) if sink_s else 0.0
    m["sinks.upsert_s"] = sum(sink_s) / n

    lat = [v for v, traced in log.latency if traced] if live else []
    rows = [int(p["numInputRows"]) for p in prog]
    m["live.latency_p95_s"] = statistics.quantiles(lat, n=20)[-1] if len(lat) >= 2 else 0.0
    m["live.rows_per_trigger_p50"] = statistics.median(rows) if rows else 0.0
    m["live.offered_rows"] = workloads.LIVE_RATE * spanned
    m["live.processed_rows"] = float(sum(rows))

    traced_pass = [v for v, traced in zip(log.pass_s, log.traced) if traced]
    plain_pass = plain(zip(log.pass_s, log.traced))
    m["trace.overhead_s"] = (
        statistics.median(traced_pass) - statistics.median(plain_pass)
        if traced_pass and plain_pass else 0.0
    )
    return m


def all_cpus_pass_s(args, budget: float) -> tuple[float, str | None]:
    """``pass_s`` of the workload on a session using every CPU, in a
    child."""
    cmd = [
        sys.executable, os.path.abspath(__file__), "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", "5", "--trace", "0", "--baseline",
    ]
    env = {k: v for k, v in os.environ.items() if k not in ("PYSPARK_SUBMIT_ARGS", "TMPDIR")}
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=max(10.0, budget))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        return 0.0, "all-CPU run timed out"
    try:
        result = json.loads(out.strip().splitlines()[-1])
        return result["metrics"]["pass_s"]["value"], None
    except (IndexError, ValueError, KeyError):
        return 0.0, f"all-CPU run exited {proc.returncode} without a result"


def run(args, ctx: Ctx, t_start: float) -> tuple[dict, workloads.PassLog]:
    trace = bool(args.trace)
    if trace:
        ctx.tracer.enabled = True
        ctx.tracer.install()  # before the catalog modules import
    from flink_scala_spark import session

    live = args.workload == "live_dashboard"
    if not live:
        datagen.write(ctx.data_dir, args.seed, SF)
    peak = procstat.PeakRss()
    cpus = len(os.sched_getaffinity(0)) if args.baseline else SPARK_CORES
    ctx.spark = spark = session.get_spark("perfbench", cpus=cpus)
    stamp = host_stamp(args, spark)
    listener = progress_listener() if trace else None
    log = workloads.PassLog()

    def traced(on: bool) -> None:
        ctx.tracer.enabled = on
        if listener is not None:
            (spark.streams.addListener if on else spark.streams.removeListener)(listener)

    if live:
        dash = workloads.LiveDashboard(ctx)
        if trace:
            traced(True)
        dash.start()
        dash.wait_batches(workloads.LIVE_WARM_BATCHES, timeout=90)
        setup_s = (time.time() - t_start) * procstat.granted(ctx.ticks0, procstat.host_ticks())
        dash.window(args.seconds, trace, log, peak)
        if trace:
            traced(False)
            dash.window(args.seconds, False, log, peak)
        peak.stop()
        dash.stop_and_check(log)
    else:
        wl = workloads.EntryWorkload(ctx, workloads.ENTRY_WORKLOADS[args.workload])
        wl.warm(1 if args.baseline else workloads.WARM_PASSES)
        setup_s = (time.time() - t_start) * procstat.granted(ctx.ticks0, procstat.host_ticks())
        begin, i = time.time(), 0
        while True:
            on = trace and i % 4 in (0, 3)  # T U U T: no order bias
            if trace:
                traced(on)
            wl.timed_pass(i, log, on, peak)
            i += 1
            enough = i >= 4 if trace else args.baseline or i >= MIN_PASSES
            if enough and time.time() - begin >= args.seconds:
                break
        if trace:
            traced(False)
        peak.stop()
        wl.check(log)
    record = {
        "stamp": stamp,
        "end_to_end": end_to_end(log, setup_s),
        "passes": {"pass_s": log.pass_s, "wall_s": log.wall_s, "traced": log.traced},
        "granted": summary(log.granted),
    }
    if not live:
        record["entries"] = {name: summary(plain(w)) for name, w in log.entry_s.items()}
    stop_spark(spark)
    ctx.spark = None
    if trace:
        record["per_layer"] = layer_metrics(
            ctx, live, log, listener, os.path.join(ctx.work, "eventlog")
        )
    return record, log


def main(argv=None) -> int:
    t_start = procstat.process_start_epoch()
    args = parse_args(argv)
    try:
        import flink_scala_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    watchdog = threading.Timer(DEADLINE_S, lambda: os._exit(3))
    watchdog.daemon = True
    watchdog.start()
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    results = os.path.join(ROOT, ".bench_results")
    os.makedirs(results, exist_ok=True)
    prepare_env(work, bool(args.trace))
    ctx = Ctx(args, work)
    try:
        record, log = run(args, ctx, t_start)
        if args.trace:
            all_cpus, err = all_cpus_pass_s(args, DEADLINE_S - 10 - (time.time() - t_start))
            record["per_layer"]["scaling.pass_s_1core"] = record["end_to_end"]["pass_s"]["median"]
            record["per_layer"]["scaling.pass_s_allcpus"] = all_cpus
            if err:
                log.errors.append(err)
            ctx.tracer.dump(os.path.join(results, f"{args.workload}-seed{args.seed}-spans.json"))
    finally:
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)

    correct = log.failed == 0
    record["attempted"], record["failed"], record["errors"] = log.attempted, log.failed, log.errors
    if args.trace:
        metrics = {k: {"value": record["per_layer"][k], "unit": u} for k, u in PER_LAYER.items()}
        n = sum(log.traced)
        for k, v in metrics.items():
            print(f"{k:28s} {v['value']:14.4f} {v['unit']:6s} n={n}")
    else:
        metrics = {}
        for k, s in record["end_to_end"].items():
            metrics[k] = {"value": s["median"], "unit": END_TO_END[k]}
            extra = "".join(f" {q}={v:.4f}" for q, v in s.items() if q.startswith("p"))
            print(f"{k:22s} {s['median']:12.4f} {END_TO_END[k]:6s} n={s['n']}{extra}")
    rate = log.failed / log.attempted if log.attempted else 1.0
    print(f"{'error_rate':22s} {rate:12.4f} ratio  n={log.attempted}")
    for err in log.errors:
        print(f"error: {err}")
    with open(os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({
        "correct": correct, "attempted": log.attempted, "failed": log.failed,
        "metrics": metrics,
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

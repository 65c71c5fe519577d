"""Streaming replay benchmark: runs every live ``streaming_*`` catalog
query as a bounded replay at $SPARK_GRAFT_STREAM_SF_DIR (default
/root/testdata/sf0.01) and prints ONE JSON line::

    {"metric": "streaming_replay_total_time", "value": total_sec,
     "unit": "sec", "queries": {name: {"sec": s, "input_rows": n,
     "rows_per_sec": r, "batches": b}}, "sf": ...,
     "host": {"cpus": c, "mem_gb": m}}

Rationale (VERDICT r5 ask #3): the batch bench (bench.py) records a
wall-time trend for 65+ headline queries every round, but the streaming
family — the replay-dominated TWS/dedup entries among them — had no
recorded throughput, so a runner/state-store regression would be
invisible until a driver-gate timeout. Replay throughput is measured as
total microbatch ``numInputRows`` (accumulated by the bounded runner
across every streaming query a catalog entry drives) divided by the
entry's wall time; wall time is end-to-end including planning and the
memory-sink drain, i.e. exactly what the driver gate pays.

Each query runs once (replays are checkpoint- and state-store-bound,
not codegen-bound, so best-of-N buys little for its cost); override
with MEASURE_RUNS for investigations.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

MEASURE_RUNS = max(1, int(os.environ.get("MEASURE_RUNS", "1")))


def main() -> None:
    sf_dir = os.environ.get(
        "SPARK_GRAFT_STREAM_SF_DIR", "/root/testdata/sf0.01"
    )
    from flink_scala_spark.queries import catalog
    from flink_scala_spark.session import get_spark, host_stamp
    from flink_scala_spark.streaming import runner

    spark = get_spark("bench_streaming")

    names = sorted(n for n in catalog.QUERIES if n.startswith("streaming_"))
    results: dict[str, dict] = {}
    for name in names:
        fn = catalog.QUERIES[name].fn
        best = None
        rec = runner.RunRecord()
        for _ in range(MEASURE_RUNS):
            runner.RUNS.pop(name, None)
            spark.catalog.clearCache()
            t0 = time.time()
            df = fn(spark, sf_dir)
            n_out = df.count()
            wall = time.time() - t0
            if best is None or wall < best:
                best = wall
                rec = runner.RUNS.get(name, runner.RunRecord())
            del df
            gc.collect()
        rate = rec.input_rows / best if best else 0.0
        results[name] = {
            "sec": round(best, 3),
            "input_rows": rec.input_rows,
            "rows_per_sec": round(rate, 1),
            "batches": rec.batches,
            "out_rows": n_out,
        }
        print(
            f"# {name}: {rec.input_rows} in-rows, {n_out} out-rows, "
            f"{rec.batches} batches in {best:.3f}s "
            f"({rate:,.0f} rows/s)",
            file=sys.stderr,
        )

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    out = {
        "metric": "streaming_replay_total_time",
        "value": round(sum(r["sec"] for r in results.values()), 3),
        "unit": "sec",
        "queries": results,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "runs_per_query": MEASURE_RUNS,
        "agg": "min",
        "host": host_stamp(),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()

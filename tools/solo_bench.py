"""Time individual bench entries with bench.py's timed pass
(``bench.time_entry``: per-query sf0.001 warmup, then best-of-
``MEASURE_RUNS`` noop-sink writes at $SPARK_GRAFT_SF_DIR from a cold
data cache) without running the whole bench set.

Usage: python tools/solo_bench.py <query> [query ...]
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import bench
    from flink_scala_spark.session import get_spark

    spark = get_spark("solo_bench")
    timings = {n: bench.time_entry(spark, n, sf_dir) for n in sys.argv[1:]}
    print(json.dumps(timings, separators=(",", ":")))


if __name__ == "__main__":
    main()

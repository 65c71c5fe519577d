"""Dump .explain("formatted") for bench entries to plans/<outdir>/.

Usage: python tools/dump_plans.py <outdir-under-plans> [query ...]
Defaults to ``bench.entries()``, the catalog entries tagged ``bench``.
Driver-side planning only — no jobs are executed, so this is safe to
run next to other work.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    outdir = os.path.join(REPO, "plans", sys.argv[1])
    os.makedirs(outdir, exist_ok=True)
    suffix = os.environ.get("PLAN_SUFFIX", "before")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import bench
    from flink_scala_spark.queries import catalog
    from flink_scala_spark.session import get_spark

    names = sys.argv[2:] or bench.entries()

    spark = get_spark("dump_plans")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name in names:
        try:
            df = catalog.QUERIES[name].fn(spark, sf_dir)
            text = df._jdf.queryExecution().explainString(mode)
        except Exception as e:  # plan-time failure: record it, keep going
            text = f"EXPLAIN FAILED: {e}"
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(text)
        print(f"# {name}: {len(text)} bytes", file=sys.stderr)


if __name__ == "__main__":
    main()

"""Multi-stream ops: split/select, union, connect/co-map, side outputs.

Mirrors SURVEY.md §2.4 (M1-M4). Spark DataFrames are cheaply
re-filterable lineages, so Flink's stream-tagging constructs become
complementary ``filter``s over one parent plan; ``connect``'s
two-typed-streams co-map becomes per-side ``select`` to a common schema
then ``union``.

- M1 split+select: ``hk/transformTest/SplitAndSelect.scala:25-37``
  (high/mid/low temperature bands).
- M2 union: ``ConnectAndUnion.scala:43``.
- M3 connect + CoMap: ``ConnectAndUnion.scala:39-52`` — (id, temp) ->
  (id, "error") on one side, Sensor -> (id, "warn") on the other.
- M4 side output: ``SideOutPutTest.scala:47-55`` (hot-temperature
  alarm stream + main stream).

Scale notes: each branch re-reads the parent lineage; at scale the
parent scan is shared via caching in interactive use, or the branches
are written from one pass with ``foreachBatch`` (streaming) — both
branch predicates push down to the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def split_select(df: DataFrame, value_col: str, low: float, high: float) -> dict[str, DataFrame]:
    """M1: one parent plan fanned into labeled sub-frames."""
    v = F.col(value_col)
    return {
        "low": df.filter(v < low),
        "mid": df.filter((v >= low) & (v < high)),
        "high": df.filter(v >= high),
    }


def connect_co_map(errors: DataFrame, warnings: DataFrame) -> DataFrame:
    """M3: two differently-typed inputs co-mapped to a common schema
    then merged (ConnectAndUnion.scala:39-52, expected output :55-59).

    ``errors`` rows -> (id, 'error'); ``warnings`` rows -> (id, 'warn').
    """
    a = errors.select(F.col("id"), F.lit("error").alias("level"))
    b = warnings.select(F.col("id"), F.lit("warn").alias("level"))
    return a.unionByName(b)


def side_output(df: DataFrame, predicate: F.Column) -> tuple[DataFrame, DataFrame]:
    """M4: (side, main) — complementary filters over one lineage
    (SideOutPutTest.scala:30-36; OrderAnalysy.scala:146-151).
    """
    return df.filter(predicate), df.filter(~predicate)

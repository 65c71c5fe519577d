"""Every catalog query must match its DuckDB oracle at sf0.001.

This mirrors the driver's correctness gate (row count + column names +
order-insensitive values) so regressions surface in `pytest` before the
driver runs its own check at sf0.01.

It is also the one test that builds every catalog entry, so every
per-entry check rides on that single build: the plan lint of
``plan_lint`` (batch entries before any action; streaming entries on
the plan their bounded run recorded), the entry as a SQL view, and the
session left as the entry found it.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from plan_lint import batch_plan_offenders, streaming_plan_offenders

from flink_scala_spark.oracle_types import dtype_mismatches
from flink_scala_spark.queries.catalog import QUERIES
from flink_scala_spark.streaming import runner

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6f}"
    return str(v)


def _sorted_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort()
    return out


#: Session confs a catalog entry may leave changed, each with its reason.
SESSION_STATE_OK = {
    "spark.sql.legacy.parquet.nanosAsLong": (
        "tables.load(..., 'events') sets it so that TIMESTAMP(NANOS) "
        "parquet reads as bigint; it is not scoped to the read yet"
    ),
}


def _session_state(spark):
    confs = {
        k: v for k, v in spark.conf.getAll.items() if k not in SESSION_STATE_OK
    }
    # the names spark.catalog.listTables() gives, at about a third of
    # its cost per call (it runs twice per entry)
    tables = spark.sql("SHOW TABLES").collect()
    return confs, sorted(r.tableName for r in tables)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck, sf_dir):
    spec = QUERIES[name]
    before = _session_state(spark)
    sdf = spec.fn(spark, sf_dir)
    if name.startswith("streaming_"):
        rec = runner.RUNS.get(name)
        assert streaming_plan_offenders(name, rec and rec.plan) == []
    else:
        assert batch_plan_offenders(name, sdf) == []
    s_rows = [tuple(r) for r in sdf.collect()]
    view = f"q_{name}"
    sdf.createOrReplaceTempView(view)
    assert spark.table(view).columns == sdf.columns
    spark.catalog.dropTempView(view)
    assert _session_state(spark) == before
    if spec.oracle is None:
        return
    tbl = duck.execute(spec.oracle).fetch_arrow_table()
    d_cols = tbl.schema.names
    d_rows = [tuple(row[c] for c in d_cols) for row in tbl.to_pylist()]
    assert sorted(sdf.columns) == sorted(d_cols)
    # The driver hashes TYPED values — an uncast DuckDB integer sum()
    # (HUGEINT) str()-matches Spark's BIGINT yet hash-mismatches at the
    # driver (cost: 2 red rows in round 3). Compare dtypes, not str().
    assert dtype_mismatches(sdf.dtypes, tbl.schema) == []
    assert len(s_rows) == len(d_rows)
    assert _sorted_rows(sdf.columns, s_rows) == _sorted_rows(d_cols, d_rows)


def test_driver_priority_head_is_valid():
    """The driver's gate checks the FIRST 50 queries() entries; every
    priority name must exist in the catalog, be unique, and every
    oracle-able head entry must actually carry an oracle."""
    import __spark_entry__ as se

    head = se._PRIORITY[:50]
    assert len(head) == len(set(head)) == 50
    for name in head:
        assert name in QUERIES, name
    ordered = list(se.queries())
    assert ordered[:50] == head
    missing_oracles = [n for n in head if QUERIES[n].oracle is None]
    assert missing_oracles == []


def test_dtype_gate_sees_hugeint_drift():
    """The exact failure class that cost round 3 two driver rows: an
    uncast DuckDB integer sum() (HUGEINT) must be flagged against a
    Spark BIGINT even though str() of every cell matches — and the
    benign width-identical cases must pass."""
    import duckdb

    from flink_scala_spark.oracle_types import (
        arrow_to_spark_dtype,
        dtype_mismatches,
    )

    con = duckdb.connect()
    t = con.execute(
        "SELECT sum(x) AS bad, CAST(sum(x) AS BIGINT) AS good,"
        "       1.5 AS dec_lit, 'a' AS s, DATE '2020-01-01' AS d "
        "FROM (SELECT 1 AS x)"
    ).fetch_arrow_table()
    assert arrow_to_spark_dtype(t.schema.field("bad").type) == "decimal(38,0)"
    assert arrow_to_spark_dtype(t.schema.field("good").type) == "bigint"
    assert arrow_to_spark_dtype(t.schema.field("d").type) == "date"
    spark_dtypes = [
        ("bad", "bigint"),      # drift: HUGEINT vs bigint -> flagged
        ("good", "bigint"),     # exact match
        ("dec_lit", "double"),  # drift: decimal literal vs double
        ("s", "string"),
        ("d", "date"),
        ("extra_col", "int"),   # absent from oracle: name drift is
    ]                           # reported elsewhere, not here
    mis = dtype_mismatches(spark_dtypes, t.schema)
    assert any("bad" in m for m in mis)
    assert any("dec_lit" in m for m in mis)
    assert len(mis) == 2, mis


def test_dtype_gate_timestamp_ntz_equivalence():
    """timestamp vs timestamp_ntz is the same wire value under the
    UTC-pinned session — must NOT be flagged."""
    import pyarrow as pa

    from flink_scala_spark.oracle_types import dtype_mismatches

    schema = pa.schema([pa.field("ts", pa.timestamp("us"))])
    assert dtype_mismatches([("ts", "timestamp_ntz")], schema) == []
    assert dtype_mismatches([("ts", "timestamp")], schema) == []

"""Portable deterministic primitives: identical results in Spark (JVM,
whole-stage codegen) and DuckDB (the driver's oracle engine).

Two building blocks make every fuzzy-dedup / similarity oracle *exact*
instead of approximately-compared:

- ``h60``: a 60-bit integer hash = the first 15 hex chars of md5,
  parsed base-16. Both engines implement md5 per RFC 1321 and parse
  hex identically, so the value is bit-identical. 15 hex chars < 2**60
  always fits a signed BIGINT.
- ``inorder_dot``: dot products folded strictly left-to-right in
  double precision (Spark ``aggregate`` over ``zip_with``; DuckDB
  ``list_reduce`` over ``list_transform``). IEEE-754 double ops are
  deterministic given an evaluation order, so cosine similarities are
  bit-identical across engines — no rounding tolerance needed in the
  correctness gate.

At cluster scale both stay inside whole-stage codegen (no Python UDF,
no shuffle): they are pure row-local expressions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def epoch_seconds(col: Column | str) -> Column:
    """Event-time column -> epoch-seconds BIGINT, tolerant of both
    TIMESTAMP and TIMESTAMP_NTZ inputs (driver parquet has shipped
    both). TIMESTAMP_NTZ cannot cast to BIGINT directly; the
    intermediate cast to TIMESTAMP is an exact identity because the
    session timezone is pinned to UTC (session.py), and DuckDB's
    ``epoch()`` treats naive timestamps as UTC the same way."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("timestamp").cast("long")


def h60(col: Column | str) -> Column:
    """60-bit deterministic hash of a string column (Spark side)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


#: DuckDB twin of :func:`h60` — format with the input expression.
DUCK_H60 = "CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


def duck_h60(expr: str) -> str:
    return DUCK_H60.format(expr=expr)


def inorder_dot(a: Column, b: Column) -> Column:
    """Left-to-right double-precision dot product of two array columns
    (Spark side). Bit-identical to :func:`duck_dot`."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def duck_dot(a: str, b: str) -> str:
    """DuckDB twin of :func:`inorder_dot` over list columns ``a``/``b``.

    ``list_reduce`` folds left-to-right starting from the first
    element; Spark's ``aggregate`` starts from 0.0 — ``0.0 + x == x``
    exactly in IEEE-754, so the folds agree bit-for-bit.
    """
    return (
        f"list_reduce(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
    )

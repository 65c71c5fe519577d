"""Engine-level scalar function helpers (portable across Spark & the
DuckDB oracle)."""

from flink_scala_spark.functions.portable import (  # noqa: F401
    DUCK_H60,
    duck_dot,
    duck_h60,
    h60,
    inorder_dot,
)

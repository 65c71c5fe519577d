"""Query catalog: named (spark_fn, oracle_sql) pairs for the driver."""

from flink_scala_spark.queries.catalog import QUERIES, oracle_sql_map  # noqa: F401
from flink_scala_spark.queries import streaming_queries  # noqa: F401  (registers entries)
from flink_scala_spark.queries import pipeline_queries  # noqa: F401  (registers entries)
from flink_scala_spark.queries import relational_queries  # noqa: F401  (registers entries)

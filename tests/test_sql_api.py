"""The plain-SQL surface: every test table registered as a view, ANSI
SQL running through the same Catalyst pipeline as the DataFrame API."""

from __future__ import annotations


def test_sql_over_registered_views(spark, sf_dir):
    from flink_scala_spark import tables

    tables.register_views(spark, sf_dir)
    df = spark.sql(
        """
        SELECT n.n_name, count(*) AS cnt, round(sum(o.o_totalprice), 2) AS total
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        ORDER BY total DESC
        """
    )
    rows = df.collect()
    assert rows
    # same result through the DataFrame API
    from flink_scala_spark.operators import dashboard
    from pyspark.sql import functions as F

    api = (
        dashboard.order_totals_by_day_province(
            tables.load(spark, sf_dir, "orders"),
            tables.load(spark, sf_dir, "customer"),
            tables.load(spark, sf_dir, "nation"),
        )
        .groupBy("province")
        .agg(F.sum("total_num").alias("cnt"))
    )
    sql_counts = {r["n_name"]: r["cnt"] for r in rows}
    api_counts = {r["province"]: r["cnt"] for r in api.collect()}
    assert sql_counts == api_counts


def test_catalog_views_compose_in_sql(spark, sf_dir):
    """Catalog operators registered as SQL views compose, and the
    composed plan still optimizes end-to-end. Every catalog entry is
    shown to resolve as a ``q_<name>`` view by the per-entry test in
    tests/test_catalog_oracle.py; this registers only the three views
    it composes and drops them again."""
    from flink_scala_spark.queries.catalog import QUERIES

    names = ["dedup_exact", "text_quality", "text_token_stats"]
    for name in names:
        QUERIES[name].fn(spark, sf_dir).createOrReplaceTempView(f"q_{name}")
    # compose two operator views in SQL: quality-filtered dedup groups
    df = spark.sql(
        """
        SELECT d.is_dup, count(*) AS n, round(avg(q.quality), 3) AS avg_quality
        FROM q_dedup_exact d JOIN q_text_quality q ON d.doc_id = q.doc_id
        GROUP BY d.is_dup
        """
    )
    rows = {r["is_dup"]: r for r in df.collect()}
    assert 0 in rows and rows[0]["n"] > 0
    # a filter through a view must still push to the parquet scan
    plan_df = spark.sql("SELECT doc_id FROM q_text_token_stats WHERE doc_id = 7")
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        plan_df.explain("formatted")
    assert "PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,7)]" in buf.getvalue()
    for name in names:
        spark.catalog.dropTempView(f"q_{name}")

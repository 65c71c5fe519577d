"""Session tuning and scoped conf changes."""

from __future__ import annotations


def test_session_keeps_every_progress_report(spark):
    """The bounded runner sums q.recentProgress; the tuned session keeps
    far more reports than Spark's 100, so a long replay is not
    undercounted. ``tune_existing`` puts back every conf of
    ``SQL_CONFS`` on a session that lost them, so the driver's session
    plans like the one ``get_spark`` builds."""
    from flink_scala_spark.session import SQL_CONFS, tune_existing

    key = "spark.sql.streaming.numRecentProgressUpdates"
    assert spark.conf.get(key) == "10000"
    assert {k: spark.conf.get(k) for k in SQL_CONFS} == SQL_CONFS
    try:
        for k in SQL_CONFS:
            spark.conf.unset(k)
        assert spark.conf.get(key) != "10000"
        tune_existing(spark)
        assert {k: spark.conf.get(k) for k in SQL_CONFS} == SQL_CONFS
    finally:
        for k, v in SQL_CONFS.items():
            spark.conf.set(k, v)


def test_scoped_conf_restores_set_and_unset_values(spark):
    """scoped_conf puts a previously set value back and unsets a conf
    that was unset before, also when its block raises."""
    import pytest

    from flink_scala_spark.session import scoped_conf

    set_key = "spark.sql.shuffle.partitions"
    unset_key = "spark.graft.test.scoped"
    prev = spark.conf.get(set_key)
    assert spark.conf.get(unset_key, None) is None
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, {set_key: "3", unset_key: "on"}):
            assert spark.conf.get(set_key) == "3"
            assert spark.conf.get(unset_key) == "on"
            raise RuntimeError("body failed")
    assert spark.conf.get(set_key) == prev
    assert spark.conf.get(unset_key, None) is None

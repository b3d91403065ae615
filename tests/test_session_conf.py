"""Scoped SQL conf guards: interactive (AQE off, narrow reduces) vs batch
(session settings), priority = batch wins on overlap."""

from share_spark.session import (
    INTERACTIVE_SHUFFLE_PARTITIONS,
    batch_sql_conf,
    interactive_sql_conf,
)


def _conf(spark):
    return (
        spark.conf.get("spark.sql.adaptive.enabled"),
        spark.conf.get("spark.sql.shuffle.partitions"),
    )


def test_guard_priority_batch_wins(spark):
    base = _conf(spark)
    with interactive_sql_conf(spark):
        assert _conf(spark) == ("false", str(INTERACTIVE_SHUFFLE_PARTITIONS))
        # a build starting mid-query asserts the session's own settings
        with batch_sql_conf(spark):
            assert _conf(spark) == base
            # a second query arriving during the build stays on batch conf
            with interactive_sql_conf(spark):
                assert _conf(spark) == base
            assert _conf(spark) == base
        # build done, query still in flight: interactive conf returns
        assert _conf(spark) == ("false", str(INTERACTIVE_SHUFFLE_PARTITIONS))
    assert _conf(spark) == base


def test_reverse_nesting_restores(spark):
    base = _conf(spark)
    with batch_sql_conf(spark):
        assert _conf(spark) == base
        with interactive_sql_conf(spark):
            assert _conf(spark) == base  # batch still active
        assert _conf(spark) == base
    assert _conf(spark) == base


def test_build_runs_under_batch_guard(spark, tmp_path):
    """build_index overlapping an interactive guard must see session
    settings, and restore cleanly afterwards."""
    import pandas as pd

    from share_spark.index.build import IndexConfig, build_index

    pdf = pd.DataFrame(
        {"doc_id": range(30), "text": ["alpha beta"] * 30, "html": None}
    )
    base = _conf(spark)
    with interactive_sql_conf(spark):
        build_index(
            spark, spark.createDataFrame(pdf), str(tmp_path / "i"),
            IndexConfig(block_size=8, chunk_docs=16),
        )
        # back on interactive conf after the build exits
        assert _conf(spark) == ("false", str(INTERACTIVE_SHUFFLE_PARTITIONS))
    assert _conf(spark) == base


def test_workers_fork_from_engine_daemon(spark):
    """Python workers fork from share_spark.daemon (stat-checked zip
    invalidation, see tests/test_daemon.py)."""
    assert spark.conf.get("spark.python.daemon.module") == "share_spark.daemon"

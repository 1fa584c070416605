"""rust_graph_db_spark.probe: Exchange counts, nested job counts and
scoped session conf."""

import contextlib

import pytest
from pyspark.sql import functions as F

from rust_graph_db_spark import probe


def test_exchanges_counts_plan_nodes(spark):
    df = spark.range(100)
    with probe.conf(spark, **{"spark.sql.adaptive.enabled": "false"}):
        assert probe.exchanges(df.repartition(4)) == 1
    assert probe.exchanges(df.select((F.col("id") + 1).alias("x"))) == 0


def test_nested_jobs_count_their_own_and_restore_the_outer_group(spark):
    sc = spark.sparkContext
    before = sc.getLocalProperty("spark.jobGroup.id")

    def one_job():
        spark.range(4).collect()

    with probe.jobs(spark) as outer:
        one_job()
        with probe.jobs(spark) as inner:
            one_job()
            one_job()
        assert sc.getLocalProperty("spark.jobGroup.id") == outer.group
        with pytest.raises(ZeroDivisionError), probe.jobs(spark) as failed:
            one_job()
            1 / 0
        assert sc.getLocalProperty("spark.jobGroup.id") == outer.group
        one_job()
    assert (outer.n, inner.n, failed.n) == (2, 2, 1)
    assert sc.getLocalProperty("spark.jobGroup.id") == before


def test_conf_restores_set_keys_and_unsets_unset_ones(spark):
    key, fresh = "spark.sql.shuffle.partitions", "probe.test.unset"
    before = spark.conf.get(key)
    assert fresh not in spark.conf.getAll
    for raises in (False, True):
        with (pytest.raises(KeyError) if raises else contextlib.nullcontext()):
            with probe.conf(spark, **{key: "3", fresh: "x"}):
                assert (spark.conf.get(key), spark.conf.get(fresh)) == ("3", "x")
                if raises:
                    raise KeyError(key)
        assert spark.conf.get(key) == before
        assert fresh not in spark.conf.getAll

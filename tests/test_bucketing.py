"""Bucketed co-located joins: the SCALE.md §1 claim made executable —
writing V and E bucketed on the join key makes the expand join (J1)
SHUFFLE-FREE (bucketed SortMergeJoin, zero Exchange operators). At
100 TB this is the difference between re-shuffling the edge corpus per
query and a storage-partitioned join."""

import pytest
from pyspark.sql import functions as F

from rust_graph_db_spark import probe
from rust_graph_db_spark.probe import plan as _plan


def test_bucketed_expand_join_is_shuffle_free(spark, tmp_path):
    v = spark.range(200).select(
        F.col("id"), (F.col("id") % 7).alias("age"))
    e = spark.range(1000).select(
        F.pmod(F.xxhash64("id"), F.lit(200)).alias("src"),
        F.pmod(F.xxhash64(F.lit(1), "id"), F.lit(200)).alias("dst"))

    spark.sql("DROP TABLE IF EXISTS vb")
    spark.sql("DROP TABLE IF EXISTS eb")
    v.write.mode("overwrite").option("path", str(tmp_path / "vb")) \
        .bucketBy(4, "id").sortBy("id").saveAsTable("vb")
    e.write.mode("overwrite").option("path", str(tmp_path / "eb")) \
        .bucketBy(4, "src").sortBy("src").saveAsTable("eb")

    try:
        with probe.conf(
                spark, **{"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            joined = spark.table("eb").join(
                spark.table("vb"), F.col("src") == F.col("id"))
            plan = _plan(joined)
            # bucketed SMJ: matching bucket layouts on both sides, so no
            # Exchange of any kind appears in the plan
            assert "Exchange" not in plan, plan
            assert "SortMergeJoin" in plan
            # and the same join WITHOUT bucketing does shuffle — the
            # baseline that proves the assertion has teeth
            raw = e.join(v, F.col("src") == F.col("id"))
            assert "Exchange" in _plan(raw)
            # correctness unchanged
            assert joined.count() == raw.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS vb")
        spark.sql("DROP TABLE IF EXISTS eb")

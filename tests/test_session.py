"""Session defaults that the query and CDC paths rely on: the AQE and
join-planning settings ``get_spark`` fixes, and the storage level of
``materialize``."""

from __future__ import annotations

from pyspark.storagelevel import StorageLevel

from tidb_cdc_spark.session import materialize


def test_planner_confs(spark):
    conf = spark.conf
    assert conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false"
    assert conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true"
    assert conf.get("spark.sql.join.preferSortMergeJoin") == "true"
    assert (
        conf.get("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold")
        == "67108864"
    )


def test_materialize_persists_memory_and_disk(spark):
    df = materialize(spark.range(3))
    try:
        assert df.storageLevel == StorageLevel.MEMORY_AND_DISK
        assert df.count() == 3
    finally:
        df.unpersist()

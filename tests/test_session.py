"""Session defaults that the query and CDC paths rely on: the AQE and
join-planning settings ``get_spark`` fixes, the storage level of
``materialize``, and the partition target of ``fan_out``."""

from __future__ import annotations

from pyspark.storagelevel import StorageLevel

from tidb_cdc_spark.session import fan_out, materialize


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


def test_fan_out_never_collapses_a_wider_source(spark):
    """``max(defaultParallelism, current splits)``: a single-split
    source fans out to the core count, a source already split wider
    than that keeps its width."""
    n = spark.sparkContext.defaultParallelism
    assert fan_out(spark.range(0, 10, 1, 1), spark).rdd.getNumPartitions() == n
    wide = spark.range(0, 10, 1, 2 * n)
    assert fan_out(wide, spark).rdd.getNumPartitions() == 2 * n

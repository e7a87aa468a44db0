"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); the
same config block is what we would ship to a 1000-executor cluster —
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
Arrow enabled for the few pandas-UDF paths, and a shuffle-partition
count that AQE coalesces down when partitions are small.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "tidb_cdc_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    AQE is the load-bearing setting: at 100 TB the static
    ``shuffle.partitions`` can never be right for every stage, so we
    set a generous upper bound and let AQE coalesce post-shuffle
    partitions and split skewed ones at runtime.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # --- adaptive execution: runtime re-planning ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- coalesce post-shuffle partitions by
        # SIZE (advisoryPartitionSizeInBytes), not down to the core
        # count. parallelismFirst=true (the Spark default) pins every
        # tiny reduce stage at defaultParallelism near-empty tasks;
        # Spark's own config reference recommends false on busy
        # clusters. Scale-adaptive by construction: the coalesce
        # target is bytes, so a 100 TB shuffle still fans out to
        # thousands of partitions while a KB-sized one collapses to 1.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        # --- let AQE re-plan the subplans that fill
        # the persisted frames materialize() creates — without this a
        # cached frame keeps the static shuffle.partitions layout and
        # every downstream consumer (MLlib fit iterations included)
        # inherits its near-empty task fan-out.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # --- static planner keeps Spark's sort-merge preference
        # (the default). preferSortMergeJoin=false was tried and
        # reverted: the static choice rides SIZE ESTIMATES — a bad
        # estimate plus skew builds an unbounded hash map on an
        # executor at 100 TB, and the
        # rotated 3-arm A/B recorded in OPTIMIZATION_r15.md §5 shows
        # the static half carries no measurable win over the bounded
        # AQE runtime rewrite below.
        .config("spark.sql.join.preferSortMergeJoin", "true")
        # --- preferSortMergeJoin=false alone only
        # affects the STATIC planner (whose size estimates rarely
        # qualify); this is the runtime half — AQE rewrites a
        # sort-merge join to shuffled-hash when every post-shuffle
        # partition is under the threshold (64 MB, matching the AQE
        # advisory partition size per the config reference's
        # guidance). Bounded per-partition build memory at any scale;
        # oversized partitions keep sort-merge. Measured 10-25% on
        # the SMJ-heavy queries (q21, SCD2, pagerank, keep-best)
        # interleaved on=off-warm.
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "67108864")
        # --- scan sizing: keep input splits ~128 MB so executor
        # memory holds a partition comfortably at any SF ---
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # --- broadcast: dims (region/nation/supplier/part at test SF)
        # must broadcast; 64 MB threshold covers TPC-H dims well past
        # sf100 for region/nation and lets AQE convert at runtime ---
        .config("spark.sql.autoBroadcastJoinThreshold", "67108864")
        # --- streaming state store: RocksDB provider. The default
        # HDFS-backed store keeps every key in executor heap — at
        # 100 TB CDC key cardinality that is an OOM, not a tuning
        # problem. RocksDB keeps state on local disk with bounded
        # memory, and changelog checkpointing uploads per-batch deltas
        # instead of full snapshots (state-size-independent commit
        # latency). Measured numbers: NOTES.md "state store" entry. ---
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        .config(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
        # --- Arrow for pandas-UDF paths (similarity / multimodal) ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- session timezone: the reference parses timestamps in
        # fixed UTC+8 ("BJ", /root/reference/tag.go:47-55); keep UTC
        # for analytics and convert explicitly in the CDC layer ---
        .config("spark.sql.session.timeZone", "UTC")
        # catalog warehouse for saveAsTable tables: kept out of the
        # repo tree
        .config("spark.sql.warehouse.dir", "/tmp/spark_graft_warehouse")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # testdata's events.parquet stores TIMESTAMP(NANOS) which the
        # vectorized reader rejects; read as long and convert (see
        # read_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one testdata table, normalizing nanosecond-timestamp
    columns (read as long via ``nanosAsLong``) back to timestamps
    with microsecond truncation — matching engines that read ns
    parquet natively. Integer division keeps full int64 precision."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    # The conf must hold on the *caller's* session, not just the one
    # get_spark() builds: external harnesses pass their own session, and
    # without this the vectorized reader rejects events.parquet
    # (INT64 TIMESTAMP(NANOS)) with PARQUET_TYPE_ILLEGAL. The conf is
    # runtime-settable, so pin it at the read site.
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # date/hour-derived outputs (events_hourly, cohorts, date
        # showcases) assume UTC like get_spark() sessions; pin it so
        # an externally built session in another zone hashes the same
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass  # read-only conf manager; get_spark() sessions already set it
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # Testdata generations have stored `ts` three ways over time:
    #   1. TIMESTAMP(NANOS)        -> read as LongType via nanosAsLong
    #   2. TIMESTAMP_MICROS utc=1  -> TimestampType (nothing to do)
    #   3. TIMESTAMP_MICROS utc=0  -> TimestampNTZType
    # Normalize all of them to TimestampType. The session timezone is
    # pinned UTC above, so NTZ -> TZ is value-preserving, and every
    # downstream unix_micros/unix_millis/window expression resolves.
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    ntz_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    if ntz_cols:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz_cols})
    return df


def materialize(df):
    """Materialize a subplan consumed by more than one downstream
    branch (Spark does not reuse common subplans — without this the
    producing pipeline executes, and codegen-compiles, once per
    consumer). Also acts as a projection/pushdown barrier: consumers
    read the materialized blocks, never re-derive the source.

    ``persist(MEMORY_AND_DISK)`` keeps full lineage, so a lost
    executor or block is recomputed from source. The SQL cache stores
    compressed columnar batches at any level; MEMORY_AND_DISK skips the
    write+read round-trip per consumer that DISK_ONLY forces when the
    batches fit storage memory, and spills to disk under pressure."""
    from pyspark.storagelevel import StorageLevel

    return df.persist(StorageLevel.MEMORY_AND_DISK)


def fan_out(df, spark: SparkSession):
    """Round-robin repartition to restore scan parallelism in front
    of a CPU-heavy per-row pipeline.

    The local testdata parquet files each hold ONE row group, so a
    scan yields a single input split and every downstream narrow
    stage runs on one core. A production source never looks like
    this (a Kafka topic has N partitions; a 100 TB table has ~10⁵
    files/row-groups), so this is a bench-environment correction,
    not a scale crutch: use it ONLY in front of CPU-heavy per-row
    pipelines (JSON parse, hashing, pandas UDFs, the media
    planters' synth → decode → hash chains) where the one-time
    shuffle of the raw rows is trivially repaid. Scan-light
    aggregations should NOT fan out — the shuffle would cost more
    than the single-split scan.

    The target is ``max(defaultParallelism, existing split count)``:
    a bare ``repartition(defaultParallelism)`` would COLLAPSE a
    source that already has more partitions than cores, capping the
    pipeline's parallelism with no straggler slack. Reading the
    split count plans the input subtree; for the scan-shaped inputs
    this sits in front of, no job runs. The
    exchange is KEYLESS round-robin (deterministic under retries via
    Spark's sort-before-repartition, SPARK-23207), not a hash
    repartition: a key-matched layout would be reused straight
    through a later join on that key, pinning every downstream
    aggregate at ``n`` near-empty tasks and blocking AQE's
    size-based coalesce.
    """
    n = spark.sparkContext.defaultParallelism
    try:
        n = max(n, df.rdd.getNumPartitions())
    except Exception:
        pass  # planning hiccup — fall back to the core-count target
    return df.repartition(n)


def fan_out_by(df, spark: SparkSession, *cols):
    """Hash-partition fan-out: like ``fan_out`` but clustered on
    ``cols``, so a downstream window/groupBy on the same key reuses
    the distribution instead of inserting a second exchange."""
    from pyspark.sql import functions as F

    n = spark.sparkContext.defaultParallelism
    return df.repartition(n, *[F.col(c) for c in cols])


def register_views(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> None:
    """SQL-API surface: register every testdata table as a temp view
    (timestamp-normalized via ``read_table``) so users can run
    ``spark.sql("SELECT ... FROM lineitem JOIN orders ...")``
    directly — same scans, same pushdown, same Catalyst plans as the
    DataFrame API."""
    for name, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Load the testdata parquet tables as a dict of DataFrames.

    Reads are column-pruned and filter-pushed automatically by the
    Parquet datasource; callers should select/filter early so the
    pruning reaches the scan.
    """
    names = names or [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    return {n: read_table(spark, sf_dir, n) for n in names}

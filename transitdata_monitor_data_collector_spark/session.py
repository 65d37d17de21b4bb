"""SparkSession factory.

One place to pin the session config the whole engine assumes:
UTC session timezone (the reference emits ISO-8601 UTC wall-clock times,
src/mqtt_data_collector.py:229), AQE for runtime re-planning at Spark's
default coalescing floor, Arrow for any pandas-UDF path.  Shuffle
partitions default to the local core count — on a real cluster this is
overridden to ~2-3× total cores (see README).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "transitdata-monitor-data-collector-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Local-mode defaults come from ``SPARK_GRAFT_CPUS`` (driver contract);
    on a cluster, pass ``master=None`` with external submit config and the
    builder leaves master/resources to spark-submit.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    # Local mode runs every executor thread inside the driver JVM, whose
    # default heap is a bare 1g — 32 concurrent tasks with Arrow batches
    # exhaust that (observed: whole-bench OOM at the round-5 headline
    # size). 4g clears it with margin; BIGGER is measurably worse (a 12g
    # heap cost ~20% on short queries — larger G1 regions/young gen hurt
    # task cache locality). Ignored if a JVM already exists (getOrCreate
    # reuses it).
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce CACHED plans too: by default Spark pins a
        # cached plan's output partitioning (false), so every iterative
        # trainer that persists a small per-round table (BPE vocab,
        # logreg weights, dedup shingle frames) materializes it at the
        # full shuffle-partition count and every later round schedules
        # that many near-empty tasks per job (profiled r11:
        # text_bpe_train_merges ran 51 stages x 32 tasks over KB-sized
        # cached vocab tables). With the flag on, the cache
        # materializes at the AQE-coalesced width; consumers of tiny
        # caches schedule 1-2 tasks instead of 32. Values are unchanged
        # (the engine's determinism dialect is partition-order-free by
        # construction, gated per query by the DuckDB oracle).
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # write timestamps as annotated INT64 micros, not legacy INT96:
        # INT96 carries NO footer min/max stats, which silently disables
        # row-group/file skipping on event time — the one column a 100 TB
        # time-partitioned store prunes on most
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
    )
    if master.startswith("local"):
        # Single-host master: delay scheduling can never improve
        # locality (every slot IS process-local), but the default 3 s
        # spark.locality.wait still applies to tasks whose parent
        # partitions carry preferred locations — measured: a
        # coalesce(1) over a parallelized 18-row frame took 4.0 s vs
        # 0.45 s for the same job via repartition(1), pure scheduler
        # wait. The versioned-store merge path (one small job per
        # micro-batch epoch) was throttled by exactly this.
        builder = builder.config("spark.locality.wait", "0s")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def cluster_conf(
    total_cores: int,
    executor_memory_gb: int = 16,
    streaming: bool = False,
) -> dict[str, str]:
    """Recommended spark-submit conf for the 100 TB deployment profile.

    Rationale per key:
    - shuffle partitions ≈ 2-3x total cores: every groupBy/join partition
      fits the per-core memory share with headroom, AQE coalesces the
      excess at runtime;
    - 256 MB scan splits: ~4x fewer tasks than the 128 MB default over a
      100 TB scan with identical parallelism at 1000+ cores;
    - skew-join + coalesce: hot (broker, topic_filter) keys
      (MqttTopicMonitorListener.java:31-32's ~1,833 msg/s filter) split
      at runtime rather than stalling one reducer;
    - RocksDB state store (streaming): counter/window/dedup state spills
      off-heap, bounded by watermarks, survives executor loss via
      changelog checkpointing.
    """
    conf = {
        "spark.sql.shuffle.partitions": str(total_cores * 3),
        "spark.sql.files.maxPartitionBytes": str(256 * 1024 * 1024),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.executor.memory": f"{executor_memory_gb}g",
        "spark.memory.fraction": "0.7",
    }
    if streaming:
        conf.update(
            {
                "spark.sql.streaming.stateStore.providerClass": (
                    "org.apache.spark.sql.execution.streaming.state."
                    "RocksDBStateStoreProvider"
                ),
                "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing"
                ".enabled": "true",
            }
        )
    return conf

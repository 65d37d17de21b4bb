"""SparkSession factory.

One place to pin the session config the whole engine assumes:
UTC session timezone (the reference emits ISO-8601 UTC wall-clock times,
src/mqtt_data_collector.py:229), parquet nanos read as long (the parquet
readers normalize both without touching session conf), AQE for runtime
re-planning at Spark's default coalescing floor, Arrow for any
pandas-UDF path.  Shuffle
partitions default to the local core count — on a real cluster this is
overridden to ~2-3× total cores (see README).

It also points every Python process Spark starts (daemons, UDF workers,
the per-query streaming-source runners) at the worker bootstrap in
``_pyworker/``. Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` first
on their path; the zip carries no bytecode, so each fresh process spent
about 1 s recompiling pyspark (importing the streaming-source runner:
1.26-1.34 s from the zip, 0.26-0.32 s from the installed package of the
same version). A collector run starts ~31 such processes, two in series
before each query's first trigger. The bootstrap drops the zip only
where the worker's interpreter has the same pyspark installed, so
workers load the cached bytecode the driver already uses; elsewhere (a
cluster executor without the engine, another version) it is a no-op.

It sizes Spark's code cache to the engine's working set. Every query,
and every streaming trigger, plans again and generates the same Java
source for the same plan; Spark compiles it with Janino only when that
source is missing from its code cache, then the JIT warms the new class
up again. At the default of 100 entries, split over 4 LRU segments of
about 25, the benchmark's dashboard recompiled 36-66 classes per timed
pass and its collector 20-30 per drain (local[2], 4-core host), each a
class the JVM had compiled before. With ``CODEGEN_CACHE_ENTRIES`` both
compile nothing once warm. The cache is JVM-wide and sized when it is
first used, so like ``spark.driver.memory`` the value counts only for
the JVM's first session.
"""

from __future__ import annotations

import importlib.util
import os

from pyspark.sql import SparkSession

#: ``spark.sql.codegen.cache.maxEntries``, the generated classes the JVM
#: keeps compiled. Sized from distinct classes compiled (CodegenMetrics'
#: compilation count at a bound nothing evicts under): the benchmark's
#: six-panel dashboard 201, its collector with scrapes 171. From 500 up
#: neither workload's timed phase compiles anything; 2000 holds both
#: working sets in one JVM at under a fifth of each of the cache's 4
#: segments. The Tier-1 suite, a sweep over about 300 plans rather than
#: a repeated set, compiles 6711 classes at 2000 and 13104 at 100.
CODEGEN_CACHE_ENTRIES = 2000

_PYWORKER_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_pyworker")
_WORKER_PATH_KEY = "spark.executorEnv.PYTHONPATH"


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
        # parquet TIMESTAMP(NANOS) columns, which Spark's reader rejects
        # otherwise, arrive as long nanos; plans.normalize_timestamps
        # truncates them to micros
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
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
        # a static conf: read once, when the JVM's first session compiles
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
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
    for k, v in _with_worker_bootstrap(extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compilations(spark: SparkSession) -> int:
    """Generated classes this JVM has compiled so far: the sample count of
    CodegenMetrics' compilation-time histogram, one sample per code-cache
    miss. Read on the driver without a Spark job; in local mode the
    executors share the driver's JVM and its count."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def _with_worker_bootstrap(conf: dict[str, str]) -> dict[str, str]:
    """``conf`` with the worker bootstrap appended to the workers'
    PYTHONPATH (after any value the caller set). Skipped when the
    interpreter already has a ``sitecustomize``: the bootstrap's would
    shadow it in every worker."""
    if importlib.util.find_spec("sitecustomize") is not None:
        return conf
    paths = [p for p in conf.get(_WORKER_PATH_KEY, "").split(os.pathsep) if p]
    if _PYWORKER_DIR not in paths:
        paths.append(_PYWORKER_DIR)
    return {**conf, _WORKER_PATH_KEY: os.pathsep.join(paths)}


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
        "spark.sql.legacy.parquet.nanosAsLong": "true",
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

"""SparkSession factory with the engine's standard knobs.

Local-mode defaults fit the host (single JVM, ``local[N]`` with N the
CPUs this process may run on, heap half of physical RAM; the env vars
``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM`` override them); on
a real cluster the same config keys apply, minus master. AQE is on so
runtime stats re-plan joins and coalesce post-shuffle partitions
(replaces the reference's Q-learning chunk-size tuner,
keywords4cv.py:1823-1891).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def host_cpus() -> int:
    """Local-mode parallelism: ``SPARK_GRAFT_CPUS``, else the CPUs this
    process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def _driver_mem() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else half of physical RAM. A heap
    larger than the host never fills, so the JVM neither collects nor
    spills before the kernel's OOM killer ends it."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{ram // 2 >> 20}m"


def get_spark(
    master: str | None = None,
    app_name: str = "keywords4cv_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = host_cpus()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # sandbox corpora are ~100MB: the 128MB default packs the whole
        # scan into 1-2 splits and the tokenize stage runs on ONE core
        # (measured: 16-thread tokenize == single-thread Python). At
        # cluster scale with TB inputs the default is fine — this knob is
        # the local-mode equivalent of "have enough input splits".
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.sql.files.openCostInBytes", "64k")
        # local mode = driver-only: the heap must hold every persisted
        # relation × concurrent tasks, or cache eviction serializes the
        # build (measured: 500k-doc build at local[16] SLOWER than
        # local[4] on an 8g heap)
        .config("spark.driver.memory", _driver_mem())
        # NB: spark.cleaner.periodicGC.interval was tried at 5min for
        # long benches (200 query invocations leak out-of-scope cached
        # blocks until a driver GC runs) and REVERTED: the forced full
        # GCs + cleanup storms cost the long iterative queries more
        # than the reclaimed storage bought (curated family +100% in
        # the A/B). Queries release their own caches explicitly
        # instead (jaccard/map_whitelist/LSH unpersist on completion).
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_rows(spark: SparkSession, rows, schema: str):
    """Small driver-local relation as a ONE-partition DataFrame.

    ``spark.createDataFrame(list, schema)`` slices the list across
    ``defaultParallelism`` partitions, so every broadcast build over a
    10-row clause table runs a 32-task job in local[32] — measured
    ~0.5 s vs ~0.3 s warm for the single-slice shape, times the ~10
    such builds a composed query makes. ``coalesce(1)`` is NOT
    equivalent: it defeats the Arrow local-relation conversion and
    measured ~3.5 s per materialization on this box.
    """
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )


def persistent_rdds(spark: SparkSession, since: int = 0) -> dict:
    """id → JVM RDD for every persistent RDD in the context (cache-manager
    buffers and localCheckpointed relations alike) whose id is at or
    above ``since``, a ``next_rdd_id`` watermark."""
    out = {}
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().toList().iterator()
    while it.hasNext():
        pair = it.next()
        if int(pair._1()) >= since:
            out[int(pair._1())] = pair._2()
    return out


def next_rdd_id(spark: SparkSession) -> int:
    """An RDD-id watermark: RDD ids only grow, so every RDD created after
    this call has an id at or above the returned one."""
    return int(spark.sparkContext._jsc.sc().newRddId())

"""SparkSession factory.

Local test profile mirrors what the driver uses (local[N], AQE on, shuffle
partitions ~ cores). On a real cluster the same builder args apply — only
master/memory come from spark-submit.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _local_heap_default() -> str:
    """Default local-mode driver heap: min(24g, ~70% of physical RAM).

    24g is the measured sweet spot for the 128 GiB / 32-thread bench host
    (smaller heaps spend long registry sweeps in GC); on a host with less
    RAM a fixed 24g would be OOM-killed or swap, so cap at 70% of what the
    kernel reports.  Floor of 1g keeps the JVM bootable on tiny containers.
    ``SPARK_DRIVER_MEMORY`` overrides unconditionally.
    """
    try:
        total_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return "24g"
    budget_gb = int(total_bytes * 0.7 / (1 << 30))
    return f"{max(1, min(24, budget_gb))}g"


def get_spark(
    app_name: str = "variant_load_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    AQE is on so runtime stats drive broadcast-join selection, partition
    coalescing and skew-join splitting — the scale path for 100 TB inputs
    where static planning can't see per-chromosome/per-key skew.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # local mode runs ALL executor threads inside the driver JVM, so
        # the driver heap IS the cluster memory: size it for the host
        # (32 threads in 8g spends long sessions in GC; a 250-query
        # sweep accumulates cached/checkpointed blocks).  Capped at
        # ~70% of physical RAM so a smaller CI container gets a heap it
        # can actually back instead of an OOM-kill.  Cluster masters
        # take theirs from spark-submit.
        .config(
            "spark.driver.memory",
            os.environ.get(
                "SPARK_DRIVER_MEMORY",
                _local_heap_default()
                if (master or "local").startswith("local")
                else "8g",
            ),
        )
        # NOTE: spark.cleaner.periodicGC.interval stays at its 30min
        # default — forcing System.gc() every 2min was measured to
        # inject multi-second stop-the-world pauses into whatever query
        # ran at that moment (emb_hashing_topk 3.3s -> 36s); with the
        # right-sized heap the natural GC cadence cleans checkpoint
        # blocks fine
    )
    if master.startswith("local"):
        # Local test profile only: split small test-scale parquet into enough
        # input partitions to use every core — the default 128 MiB split
        # leaves a ~20 MiB sf0.1 table on 1-3 tasks (3% CPU use on
        # local[32]).  NOT set for cluster masters: there the default split
        # size is correct and a 4 MiB cap would explode task counts at
        # 100 TB.  The cluster-scale analog of this knob is proper file
        # sizing at write time (OPTIMIZE / targetFileSize).
        builder = builder.config(
            "spark.sql.files.maxPartitionBytes", "4m"
        ).config("spark.sql.files.openCostInBytes", "1m")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def register_views(spark, sf_dir: str, suffix: str = "") -> None:
    """Register every testdata parquet table as a temp view so plain
    spark.sql() text works against the engine (the SQL front door next
    to the DataFrame API).  The events view goes through load_events'
    timestamp normalization so SQL sees proper TIMESTAMP values."""
    from .queries import TABLES, load, load_events

    for name in TABLES:
        df = (
            load_events(spark, sf_dir)
            if name == "events"
            else load(spark, sf_dir, name)
        )
        df.createOrReplaceTempView(name + suffix)

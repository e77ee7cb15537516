"""SparkSession factory tuned for this engine.

Local mode is the test harness; the configs are chosen to also be the right
defaults on a real multi-executor cluster at 100 TB:

- AQE on (runtime coalesce, skew-join splitting) — the reference has no
  optimizer at all (straight-line Python, /root/reference/convert_starxml_to_bf.py),
  so every Catalyst/AQE feature is a strict win.
- Arrow on for the few pandas-UDF stages.
- shuffle.partitions sized to cores locally; on a cluster this is overridden
  per-job (or left to AQE coalesce from a high initial number).
- driver heap: SPARK_DRIVER_MEMORY, else half of host RAM.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(total_bytes: int | None = None) -> str:
    """Half of host RAM (MemTotal), at least 1g. A fixed 16g heap can
    outgrow physical memory on a small host, and the kernel then
    OOM-kills the driver JVM."""
    if total_bytes is None:
        total_bytes = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1, total_bytes // (2 << 30))}g"


def get_spark(
    app_name: str = "psyndex2linkeddata_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; local[*] → cpu count; cluster masters → AQE-coalesced 256
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            shuffle_partitions = os.cpu_count() if inner == "*" else int(inner)
        else:
            shuffle_partitions = 256

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # start every exchange wide and let AQE coalesce down: with
        # shuffle.partitions=cores alone, a 100M-triple dedup lands
        # ~3M rows in each reduce task (GC-bound hash agg — measured
        # 3.5× worse than linear at 500k pages); 8×cores initial keeps
        # reduce tasks ~64-400k rows and costs small queries nothing
        # because AQE merges them back to target size. The 256 floor is
        # a cluster-sizing default — on small local masters (tests at
        # local[4]) it only multiplies per-task overhead, so the floor
        # applies from 32 cores up.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(
                max(int(shuffle_partitions) * 8, 256)
                if int(shuffle_partitions) >= 32
                else int(shuffle_partitions) * 8
            ),
        )
        # without this, any persist()/cache() pins its exchange at the
        # full initial partition count (AQE may not touch cached-plan
        # output partitioning by default) — with the wide-then-coalesce
        # strategy above that meant 256 reduce tasks for KB-scale test
        # data, each paying the task-binary deserialization (measured:
        # the interpreted Column-path emit tree costs ~2.5s/task in
        # ObjectInputStream alone). Letting AQE coalesce cached output
        # is strictly better here: nothing relies on the cached
        # partition count.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # a small parquet table reads as ONE split under the default
        # 128 MB maxPartitionBytes, so every per-row-heavy stage over it
        # runs single-task: minhash signatures over the 5k-doc sf0.1
        # table measured 16.3s on 1 split vs 2.0s repartitioned. Floor
        # the split count at the core count instead. Scan-level, so no
        # extra exchange anywhere. It only subdivides down to
        # openCostInBytes (4 MB), so sub-4 MB files still read as one
        # split — bench.py's session additionally lowers
        # maxPartitionBytes/openCostInBytes for the KB-scale driver
        # tables. On a 100 TB cluster the files out-size the floor and
        # it is a no-op.
        .config("spark.sql.files.minPartitionNum", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()

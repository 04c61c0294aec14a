"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` (one JVM); the configs below are chosen so
the same logical plans scale to a multi-executor cluster at ~100 TB:

- AQE on (runtime coalescing, skew-join splitting) — replaces the reference's
  hand-rolled skew-aware thread scheduling (graph.rs:235-305).
- ``spark.sql.shuffle.partitions`` ≈ cores locally; on a real cluster this is
  superseded by AQE's coalescing from a high initial number.
- Arrow enabled: every Python-side batch transfer (pandas UDFs, toPandas)
  is vectorized.
- Session timezone pinned UTC so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Half of MemTotal, capped at 16g (16g when ``meminfo`` is
    unreadable, e.g. off Linux)."""
    cap_mib = 16 * 1024
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    kib = int(line.split()[1])
                    return f"{min(kib // 2048, cap_mib)}m"
    except OSError:
        pass
    return f"{cap_mib}m"


def get_spark(
    app_name: str = "rippledb_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session. ``cores`` defaults to $SPARK_GRAFT_CPUS or *."""
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n_cores = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n_cores = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(4, n_cores)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # local[N] runs one JVM over small test files: with the stock
        # 128 MiB split every sf≤1 table is a SINGLE scan task, so
        # CPU-bound scan-side work (gram explode, regex scrub, shingling)
        # serializes onto one core while 31 idle. 1 MiB splits spread it
        # across the box (measured 10-40% on the scan-bound headline
        # queries). A cluster deployment overrides this back to the
        # default via $SPARK_GRAFT_MAX_PARTITION_BYTES — at 100 TB the
        # natural split count already saturates every executor, and 1 MiB
        # tasks would drown the scheduler.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "1m"),
        )
        .config("spark.sql.files.openCostInBytes", "131072")
        # testdata events.parquet carries TIMESTAMP(NANOS) — read as long,
        # converted back to timestamp in tables.load (truncation to micros
        # matches DuckDB's ns→us handling).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Iterative operators (pagerank, connected components) leave
        # unreferenced localCheckpoint blocks behind; the context cleaner
        # only frees them after a driver GC, and the default periodic GC is
        # 30 min — far too lazy for a long-lived analytics session.
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.ui.enabled", "false")
        # local[N] drives executor + driver work from one JVM: long
        # sessions accumulate broadcasts/blocks, and an 8g heap was
        # measurably GC-bound by the tail queries of a 21-query bench.
        # The default heap is half the host's memory, capped at 16g, so
        # it always fits the host; $SPARK_DRIVER_MEMORY overrides it.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""SparkSession factory with scale-oriented defaults.

The reference runs a single pandas process (SURVEY.md §6); here every
knob is chosen for a multi-executor cluster while remaining correct on
``local[*]``:

- AQE on: runtime shuffle-partition coalescing + skew-join splitting,
  which is what keeps the 100 TB plans healthy without hand-tuning.
- UTC session timezone: parquet timestamps compare bit-for-bit with the
  DuckDB oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled for every pandas-UDF boundary.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_cpus() -> int:
    """``$SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    return int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )


def _driver_memory() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM``, else 8 GB capped at half the host's
    memory (the driver JVM shares the host with its Python workers and
    with any other session on it)."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{min(8192, half_mb)}m"


def get_spark(
    app_name: str = "ecommerce-analytics",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (else the CPUs
    this process may run on) so the same entrypoint works under the
    driver harness and on a real cluster (where ``master`` is injected
    by spark-submit and must be None). The driver heap defaults to
    ``$SPARK_GRAFT_DRIVER_MEM``, else 8 GB capped at half the host's
    memory.
    """
    cpus = str(_host_cpus())
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        # AQE coalescing only shrinks the partition count — it never
        # grows it past spark.sql.shuffle.partitions. Starting from a
        # high initial count lets AQE pick the real parallelism from
        # observed shuffle bytes in BOTH directions: tiny inputs still
        # coalesce to a handful of tasks, while a 100× input gets 100×
        # the reduce tasks instead of spilling 32 oversized ones.
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "512")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 128 MiB input splits: big enough to amortize task overhead at
        # 100 TB (≈800k tasks); minPartitionNum keeps small scans from
        # collapsing onto a handful of cores (at 100 TB the byte cap
        # dominates and this hint is a no-op).
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.files.minPartitionNum", cpus)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Push COUNT/MIN/MAX down to parquet footers (exact, metadata
        # only — optimization r16, guide §6): the engine's bounded
        # driver scalars (SRP auto-r count, dsir routing count,
        # pagerank node count, zone-table counts) become footer reads
        # instead of full scans; at 100 TB a count over a landed zone
        # stops costing a pass over the data.
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

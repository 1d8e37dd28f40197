"""SparkSession factory.

Single place for engine-wide configuration: AQE on (runtime coalesce +
skew-join handling), Arrow on (every pandas-UDF boundary is batched),
UTC session timezone (oracle comparisons are TZ-naive UTC).

Scale notes: `spark.sql.shuffle.partitions` defaults to the local core
count here; on a real cluster it should be ~2-3x total cores or left to
AQE's coalescing with a high initial value. Nothing in the engine
assumes a partition count.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half the host's physical memory, in whole GiB (at least 1g): the
    JVM heap must leave room for off-heap buffers, Python workers and
    the OS. A fixed 48g default on a 15 GB host let the heap grow until
    the kernel's OOM killer took the JVM mid-suite."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, total // 2**31)}g"


def get_spark(
    app_name: str = "social_and_media_data_ingestion_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Let the planner pick shuffled-hash over sort-merge when its
        # size conditions hold (guide §3.1/§9): measured r13 (same-
        # weather A/B at sf0.1) er_resolution_pipeline -22%,
        # corpus_full_curation -22%, graph_triangle_suppliers -17%,
        # lake_merge_upsert -12%. Failure mode (r13 ADVICE): unlike SMJ,
        # ShuffledHashJoinExec's build-side hash relation does NOT
        # spill — an oversized or skewed build partition OOMs the task.
        # The exposure is bounded, not zero: the planner only prefers
        # SHJ when the build side's ESTIMATED size is under
        # autoBroadcastJoinThreshold * shuffle.partitions AND 3x smaller
        # than the probe side (so stats-less pinned frames keep SMJ —
        # their iterative joins are steered per-operator with
        # SHUFFLE_HASH hints where the build side is provably bounded),
        # and AQE's skew-join splitting covers shuffled-hash joins for
        # skew it detects. A single giant key it cannot split remains
        # the residual OOM vector at cluster scale — revalidate at a
        # larger SF before hardening this default off-local.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # testdata events.parquet stores TIMESTAMP(NANOS); read as long and
        # convert in the loader (Spark timestamps are micros)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    # Runtime row-pruning for joins too big to broadcast: bloom filters
    # built from the filtered dim side injected into the fact scan
    # (Spark 3.3+). A clear win on a cluster at TB scale, but the extra
    # build/probe stages dominate on small local data (measured ~6x
    # slower at sf<=0.1), so it is opt-in via env rather than default.
    if os.environ.get("SPARK_GRAFT_RUNTIME_FILTERS") == "1":
        builder = builder.config(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "true"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

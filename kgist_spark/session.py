"""SparkSession factory with the engine's tuned defaults.

Tuned for the target workload (wide aggregations over skewed KG/webtext
tables): AQE with skew-join splitting, Arrow everywhere, and a shuffle
partition count sized to the local core budget (overridden on a real cluster
via spark-submit conf).  That count is the *initial* width: AQE coalesces
each shuffle to what its data needs, persisted plans included, so no caller
narrows the session width around a small job.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


_DRIVER_MEM_CAP_MB = 16 * 1024


def driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory``: ``SPARK_DRIVER_MEM`` if set, else
    min(16g, half of physical RAM).  In local mode the driver JVM is the
    only JVM, so a heap sized past the host's RAM gets it OOM-killed
    mid-run instead of spilling.  Falls back to the 16g cap where
    ``/proc/meminfo`` is unreadable (non-Linux hosts)."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_mb = int(line.split()[1]) // 1024
                    return f"{min(_DRIVER_MEM_CAP_MB, total_mb // 2)}m"
    except OSError:
        pass
    return f"{_DRIVER_MEM_CAP_MB}m"


def local_cpus() -> int:
    """Local-mode core count: ``SPARK_GRAFT_CPUS`` if set, else the CPUs
    this process may run on (what ``nproc`` reports), so a default session
    starts no more task threads than the host gives it."""
    if os.environ.get("SPARK_GRAFT_CPUS"):
        return int(os.environ["SPARK_GRAFT_CPUS"])
    return len(os.sched_getaffinity(0))


def get_spark(app_name: str = "kgist_spark", cpus: int | None = None,
              shuffle_partitions: int | None = None, extra_conf: dict | None = None) -> SparkSession:
    if cpus is None:
        cpus = local_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cpus, 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce a persisted plan's last shuffle too; otherwise
        # every persisted frame stays at the session width
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # keep AQE, but NOT its empty-relation propagation: the rewrite
        # deletes CollectMetrics nodes when a downstream stage turns out
        # empty, so Observation.get throws and every capped path's drop
        # accounting is lost EXACTLY in the all-candidates-dropped case
        # (e.g. every LSH bucket hot) — breaking the engine's no-silent-caps
        # contract.  Empty propagation only ever optimizes already-empty
        # (already cheap) plans, so excluding it costs nothing measurable.
        .config(
            "spark.sql.adaptive.optimizer.excludedRules",
            "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation",
        )
        .config("spark.driver.memory", driver_memory())
        # JDK17 defaults to G1, which is pathological for this workload's
        # allocation pattern (wide hash aggregations over short-lived string
        # rows): measured 6-80 s swings on an identical query at local[32].
        # The throughput collector holds the same query at a stable ~6 s.
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def entry_session(app_name: str) -> SparkSession:
    """The session a standalone entry point (``run_pipeline.py``,
    ``python -m kgist_spark --spark``) runs on.  Under spark-submit (the
    launcher exports ``PYSPARK_GATEWAY_PORT``) that is the launcher's
    session, whose conf (master, memory, executors) applies as given.
    Otherwise it is :func:`get_spark`, called before anything starts a JVM:
    ``spark.driver.memory`` and the driver's GC flags only take effect when
    the JVM is launched, so a session built first and then replaced keeps
    Spark's 1 GiB default heap."""
    if os.environ.get("PYSPARK_GATEWAY_PORT"):
        return SparkSession.builder.appName(app_name).getOrCreate()
    return get_spark(app_name=app_name)

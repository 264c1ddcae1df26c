"""SparkSession factory tuned for the engine.

Defaults mirror the scale guidance in SURVEY.md §6: AQE on (runtime
coalescing + skew-join handling), Arrow for every pandas interchange,
shuffle partitions sized for the local harness but overridable for a real
cluster, UTC session time so timestamp semantics are engine-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def local_cores() -> int:
    """Cores for the local master: ``SPARK_GRAFT_CPUS`` if set, else the
    CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


DEFAULT_SHUFFLE_PARTITIONS = local_cores()


def get_spark(
    app_name: str = "rastercube-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults.

    On a real cluster, only ``master`` and sizing confs change; the
    semantic confs (AQE, Arrow, UTC) stay.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # ~128 MB scan splits, mirroring the reference's one-fraction ≈
        # one-HDFS-block layout target (grids.py:115-123).
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    if SparkSession.getActiveSession() is None:
        # Creating the session from plain `python` (bench.py, tools/):
        # the JVM is NOT up yet — SparkContext launches the py4j gateway
        # with this conf — so driver sizing set here DOES take effect
        # (verified: Runtime.maxMemory tracks the conf; an earlier
        # comment claimed the opposite and the 32-thread local JVM —
        # driver AND all executors — ran on the 1 GiB default heap,
        # guide §5's exact failure mode). Under spark-submit or an
        # already-running session the conf is ignored by the JVM, which
        # is correct: size it at submit time there. Parameterised for
        # the cluster case; the local default leaves >100 GiB of the
        # sandbox for Python workers and the OS page cache.
        builder = builder.master(f"local[{local_cores()}]").config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
    return builder.getOrCreate()


def shuffle_partitions(spark: SparkSession) -> int:
    """The session's shuffle-partition count, defensively parsed: unset
    or non-numeric (platforms that set it to e.g. "auto" under their own
    adaptive layers — ADVICE r7) falls back to defaultParallelism. The
    ONE place the idiom lives; operators that pre-spread relations to
    the cluster's width (lsh_cosine_pairs, min_label_clusters) call
    this instead of re-implementing the parse."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", ""))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism

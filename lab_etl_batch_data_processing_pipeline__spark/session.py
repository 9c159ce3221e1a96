"""SparkSession factory.

Centralizes every session-level semantic decision (SURVEY.md §7.4):

- **UTC session timezone** so timestamp->date casts and ``date_trunc`` are
  reproducible and independent of the host timezone (and agree with naive
  timestamps in parquet testdata).
- **AQE on** (coalesce partitions, skew-join) — at 100 TB the runtime
  re-plan is what keeps shuffle partition sizes sane.
- **Parallelism** defaults to the cores this process may run on
  (``local[<cores>]`` with as many shuffle partitions);
  ``SPARK_GRAFT_CPUS`` / ``SPARK_SHUFFLE_PARTITIONS`` override it, and a
  real cluster deployment sets shuffle partitions to ~2-3x total cores.
- **Date-parsing policy**: Spark 4 runs ANSI mode by default, where
  ``to_date`` on a malformed string *throws*. Cleaning operators therefore
  use ``try_to_date``/``try_cast`` (operators/cleaning.py) instead of
  flipping a global legacy flag.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "lab-etl-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a configured SparkSession.

    Safe to call repeatedly: ``getOrCreate`` reuses the active session, in
    which case only dynamic confs apply.
    """
    host_cpus = str(len(os.sched_getaffinity(0)))
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", host_cpus)
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_SHUFFLE_PARTITIONS", host_cpus)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Testdata events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanosecond timestamp type, so map it to a long (nanos since epoch)
        # and convert explicitly where needed (see sources.readers).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Dynamic partition overwrite: re-running a pipeline stage replaces
        # only the partitions it produced (idempotent re-runs; fixes the
        # reference's blind append-on-rerun duplication, SURVEY.md §7.2).
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI_ENABLED", "false"))
        .config("spark.driver.maxResultSize", "4g")
        # local-mode: the driver JVM IS the executor — one task thread per
        # core, every broadcast and every persisted frame share its heap,
        # and Spark's default is 1g. Honored at JVM launch (getOrCreate on an
        # already-running JVM leaves it unchanged). A real cluster sizes
        # executors instead; see SCALE.md.
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g")
        )
    )
    # Extra driver-JVM flags (GC tuning), honored only at JVM launch like
    # driver.memory. Motivated by the r13/r14 graph-family GC mode: JDK-17
    # G1's GCLocker gives up after 2 retry allocations by default, and
    # with 32 task threads (the box it was seen on) inside JNI-critical
    # sections (Arrow, zlib, snappy) a contended locker can fail tasks
    # spuriously mid-cache-write ("Retried waiting for GCLocker too
    # often"), which then surfaces as
    # "Block rdd_N does not exist" on the localCheckpoint read side —
    # observed on the 100x edge-strided CC probe. See SCALE.md Round-14.
    java_opts = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS")
    if java_opts:
        builder = builder.config("spark.driver.extraJavaOptions", java_opts)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()

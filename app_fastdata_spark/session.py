"""SparkSession factory tuned for the local[N] test/bench environment.

Settings chosen for scale-readiness: AQE on (runtime re-plan, skew-join,
partition coalescing), shuffle partitions sized to cores, Arrow enabled
for the Pandas-UDF slow path, UTC session timezone so timestamp
semantics match the DuckDB oracle exactly.

Memory envelope: this JVM shares one cgroup with 32 Python UDF workers
and (in the correctness gate) a DuckDB process, so the heap is sized for
the suite, not a single query — 20 g is ample for sf0.1 on local[32] and
leaves the OS allocator room for everything else. Long multi-query
suites additionally rely on (a) G1's periodic GC returning uncommitted
heap to the OS between queries, (b) Spark's periodic context-cleaner GC
dropping dead broadcast/shuffle state, and (c) idle Python workers
(numpy+pandas resident, ~100-300 MB each) being killed after 2 minutes
rather than pinned for the life of the suite.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "app_fastdata_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # The repo's overflow-bound docstrings (functions/rounding.py,
        # events_time_weighted_avg, customer_revenue_abc, ...) promise
        # that an exceeded int64 bound ERRORS rather than silently
        # wrapping. That is only the DEFAULT on Spark 4.x — pin it so
        # the contract holds on a 3.x deployment too.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "20g"))
        # Fail a runaway collect loudly instead of starving the sandbox.
        .config("spark.driver.maxResultSize", "4g")
        # JEP 346: G1 triggers a concurrent cycle when idle and returns
        # unused committed heap to the OS — without this the JVM's RSS is
        # a high-water mark for the whole 50-query suite.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:+UseG1GC -XX:G1PeriodicGCInterval=60000",
        )
        # Periodic driver GC also lets the ContextCleaner actually release
        # dead broadcast variables / shuffle files mid-suite.
        .config("spark.cleaner.periodicGC.interval", "2min")
        # Reused Python workers keep numpy/pandas/arrow RSS forever; kill
        # them when idle (they respawn on demand). r13 measurement: a
        # respawned worker pays ~0.3 s CPU importing pandas/numpy before
        # its first batch — a 32-slot stage hitting cold workers burns
        # ~10 s of task time on imports alone (stage-profiled on
        # dedup_simhash), and the 120 s timeout expired in the gaps
        # between a bench's Python-stage families, re-paying the spawn
        # several times per run. 600 s keeps workers warm across those
        # gaps while still bounding idle RSS for long-lived sessions;
        # ~32 workers × 100-300 MB is well inside this sandbox and any
        # production executor sized per §5 of the optimization guide.
        .config("spark.python.worker.idleTimeoutSeconds", "600")
        .config("spark.python.worker.killOnIdleTimeout", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # testdata events.parquet stores ts as TIMESTAMP(NANOS), which Spark
        # has no native type for — read as long, converted in tables.py.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Write µs timestamps, not deprecated INT96 (Spark's default) —
        # keeps our own parquet output round-trippable through the same
        # footer probe the testdata goes through.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

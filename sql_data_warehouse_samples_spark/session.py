"""SparkSession factory for the engine.

The reference engine (Azure SQL DW) is a shared-nothing MPP columnar database:
control node + N compute nodes, 60 hash distributions, decoupled
compute/storage (white-papers/Integrating MicroStrategy Analytics with Azure
SQL Data Warehouse.md:15-37).  Spark's architecture maps 1:1 — driver =
control node, executors = compute nodes, shuffle partitions = distributions —
so the "engine" starts life as a tuned SparkSession.

Tuning choices (all scale-oriented; local[...] is only the test harness):

* AQE on (runtime re-plan, skew-join splitting, partition coalescing) — the
  reference relies on a cost-based optimizer fed by statistics
  (white-papers/...md:77); AQE is Spark's runtime complement.
* ``spark.sql.shuffle.partitions`` defaults to the reference's 60-distribution
  model scaled to the harness CPU count; AQE coalesces down when partitions
  are small, and on a 1000-executor cluster this would be raised to
  2-3x total cores.
* Arrow enabled: every Python<->JVM transfer is columnar.
* Session timezone pinned to UTC so timestamp semantics are stable across
  engines (DuckDB oracle comparisons, parquet ns/us truncation).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "sdw-spark-engine"


def default_parallelism() -> int:
    """``SPARK_GRAFT_CPUS`` when set, else the CPUs this process may run on."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


def build_session(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 16)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # local[N] runs every executor thread inside the driver JVM, whose
        # default 1 GB heap OOMs well before the harness's memory is used;
        # on a real cluster this maps to executor memory sizing instead.
        # (Applies only when this builder launches the JVM.)  8g chosen by
        # measurement (scripts/heap_probe.py, r6): 8g == 16g within noise
        # on the heavy-query subset (10.72 vs 10.84 s min-of-3), 4g ~6%
        # slower (GC pressure on d09/d12/s04); the r5 suspicion that 16g
        # made interpreter-heavy reps slower disappeared with the d05
        # gemm escape — smallest winning heap kept.
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
        )
        # --- optimizer / runtime ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE normally refuses to re-plan the output partitioning of a
        # plan that is about to be cached (so cached data keeps a stable
        # layout for reuse); the dedup operators persist banded/window
        # frames whose pre-AQE layout is the full shuffle-partition count,
        # so every consumer of the cache then schedules that many tasks
        # regardless of data size.  Letting AQE size cached plans too
        # (coalesce small shuffle output before it is cached) makes the
        # cached layout track the DATA, which is the same scale-adaptive
        # behavior every uncached exchange already gets (r12 job-trace:
        # 32-task no-op stages on KB-sized persisted frames).
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Replicated-dimension tables broadcast freely (REPLICATE tables in the
        # reference are capped ~2 GB, data-load/README.md:7; we keep Spark's
        # threshold lower and inject explicit broadcast() for declared layouts).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- python interop ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- semantics ---
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # parquet TIMESTAMP(NANOS) (events.ts) is not a legal Spark type;
        # read as long and convert to µs in the table layer (matches
        # DuckDB's ns→µs truncation).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # exact decimal math for money columns (SURVEY §7 risk register)
        .config("spark.sql.decimalOperations.allowPrecisionLoss", "false")
        # the status REST API (/api/v1) is the engine's per-stage metrics
        # source (shuffle/spill/peak-memory DMVs — metrics.py); port 0 =
        # pick any free port, discovered via sc.uiWebUrl
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "0")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def get_or_create(spark: SparkSession | None = None) -> SparkSession:
    """Return an active session, building a tuned one if none exists."""
    if spark is not None:
        return spark
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    return build_session()

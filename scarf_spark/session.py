"""SparkSession factory with scale-appropriate defaults.

Tuned for local[N] testing but every setting is what we would ship on a
1000-executor cluster: AQE on (runtime re-plan, skew-join splitting,
partition coalescing), broadcast threshold large enough that every
dimension table of the star schema broadcasts, shuffle partitions sized
to the cluster (driver overrides via SPARK_GRAFT_CPUS locally).

Unset, the local defaults fit the host: one task slot per usable CPU,
and a JVM heap of half the physical RAM, at most 16g.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _fair_allocation_file() -> str:
    """Path to the shipped fairscheduler.xml (FAIR-mode default pool).

    Falls back to an empty string (Spark ignores it) if the repo-root
    copy is missing, e.g. when scarf_spark is installed standalone."""
    p = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "fairscheduler.xml",
    )
    return p if os.path.exists(p) else ""


def get_spark(
    app_name: str = "scarf-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    half_ram_g = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**31
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SCARF_SHUFFLE_PARTITIONS", str(max(int(cpus), 8)))
    )
    # pin BLAS to one thread per task BEFORE the JVM spawns (local-mode
    # python workers inherit this env): N concurrent Arrow tasks each
    # spawning an N-thread OpenBLAS pool oversubscribes the box N-fold —
    # measured 2x wall on the cross-KNN grid. Spark's task slots are
    # already the parallelism; respect an explicit user override.
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # AQE: runtime partition coalescing + skew-join splitting; at 100 TB
        # this is what keeps post-shuffle partitions near the target size
        # whatever the data distribution is.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # All dim tables (region/nation/customer/part/...) are tiny next to
        # the fact table — make sure they always broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Runtime row-level filtering: build a bloom filter from the
        # small side of a shuffle join and push it into the big side's
        # scan — at 100 TB this prunes fact-table rows before the
        # exchange for selective dim joins that exceed the broadcast
        # threshold.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # COUNT/MIN/MAX answered from parquet footers, no row scan.
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Arrow for every pandas_udf / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic timestamp semantics vs the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SCARF_DRIVER_MEM") or f"{min(16, max(1, half_ram_g))}g",
        )
        # FAIR scheduling: concurrent query streams (bench throughput
        # run, multi-tenant notebooks) share executor slots round-robin
        # instead of convoying behind the first submitted job.  FAIR
        # mode alone is not enough — jobs land in the single default
        # pool whose INTERNAL order is FIFO — so the allocation file
        # flips the default pool itself to FAIR (and bench threads
        # additionally set a per-thread spark.scheduler.pool).
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.ui.enabled", "false")
    )
    alloc = _fair_allocation_file()
    if alloc:
        builder = builder.config("spark.scheduler.allocation.file", alloc)
    return builder.getOrCreate()

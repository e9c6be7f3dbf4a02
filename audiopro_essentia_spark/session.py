"""SparkSession factory tuned for the feature-engineering workload.

Scale notes (100 TB / 1000-executor design, tested on local[32]):
- AQE on: runtime coalescing + skew-join splitting replace the reference's
  hand-rolled worker/chunk heuristics (extractor.py:174-182).
- Arrow on, bounded batches: the JVM<->Python boundary is crossed once per
  Arrow batch, the analog of the reference's 1000-frame mp.Pool batches.
- Session timezone pinned to UTC so results compare bit-for-bit against the
  DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .constants import BATCH_SIZE

# One BLAS thread per Python worker: Spark supplies the task-level
# parallelism; nested OpenBLAS/OMP threading oversubscribes (32 workers x
# 32 BLAS threads melted the fused kernel in profiling). Must be set before
# the JVM/worker processes spawn.
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")


def get_spark(
    app_name: str = "audiopro-essentia-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's config profile."""
    # the CPUs this process may run on, not the host's count or a constant
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    master = master or f"local[{cpus}]"
    # local mode: shuffle partitions ~ cores; a real cluster would use
    # ~2-3x total cores and let AQE coalesce.
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else cpus
        # Spark's local-with-retries form is local[N,maxFailures] — only
        # the first field is the core count
        n = n.split(",")[0].strip()
        shuffle_partitions = 32 if n == "*" else max(1, int(n))

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(BATCH_SIZE))
        # 32m (not the 128m default): scan splits are the ONLY parallelism
        # source for the narrow fused pipeline (repartition() shuffles of the
        # token payload anti-scale on local disk); small local inputs need
        # more splits, and at corpus scale AQE coalesces tiny partitions.
        .config("spark.sql.files.maxPartitionBytes", "32m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        # pyspark.daemon without its per-task zip directory re-reads
        .config("spark.python.daemon.module", "audiopro_essentia_spark.daemon")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()

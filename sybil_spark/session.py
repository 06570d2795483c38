"""SparkSession factory tuned for the engine.

All knobs here are chosen for the 100 TB / 1000-executor target and
merely *tested* on local[N]:

- AQE on: runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic broadcast decisions replace sybil's
  hand-rolled per-block merge cadence (reference:
  src/lib/table_query.go:230-258).
- shuffle.partitions is a default, not a constant — AQE coalesces
  down, and big jobs should set it to ~2-3x total cores.
- maxPartitionBytes 128m ≈ sybil's 65,536-row block as the unit of
  scan parallelism (reference: src/lib/table.go:44).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Environment for every Python worker (and, in local mode, the JVM
#: that forks them). Two classes of knob:
#: - glibc malloc: numpy's block-matmul batches allocate multi-MB
#:   buffers per Arrow batch; with the default dynamic mmap threshold
#:   each one is a fresh mmap whose pages must be faulted in again —
#:   on virtualized hosts (EPT/balloon-driver fault paths) that can
#:   dominate the matmul itself by 10-100x. Raising the mmap/trim
#:   thresholds keeps big buffers on the reusable brk heap, so pages
#:   fault once per worker, not once per batch.
#: - BLAS threads: 1 thread per worker — the session already runs one
#:   Python worker per core; letting each OpenBLAS spin its own pool
#:   oversubscribes cores and serializes on internal locks.
WORKER_ENV: dict[str, str] = {
    "MALLOC_MMAP_THRESHOLD_": str(1 << 30),
    "MALLOC_TRIM_THRESHOLD_": str(1 << 30),
    "OPENBLAS_NUM_THREADS": "1",
    "OMP_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
}

DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": "32",
    # Timestamps in testdata are ns-precision; read without rebase chatter.
    "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
    "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
    # Parquet TIMESTAMP(NANOS) (e.g. the events table) is unsupported by
    # the vectorized reader; surface it as a LongType of nanoseconds and
    # convert with ns_to_epoch() where needed.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # PySpark's call-site capture: every Column/DataFrame call walks
    # the Python stack and sends it to the JVM, ~10 py4j round trips
    # per call, and a query build is hundreds of calls. Off, an error
    # loses only its "== DataFrame == ... was called from" trailer.
    # Read once per process, on the first Column call.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(app_name: str = "sybil_spark", master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    `master` defaults to local[$SPARK_GRAFT_CPUS] (or local[*]) when no
    cluster master is configured; on a real cluster, leave it unset and
    submit normally — nothing here assumes local mode.
    """
    # Before the JVM launches: local-mode Python workers inherit this
    # process's env through the JVM; on a cluster the executorEnv
    # confs below carry the same values.
    for k, v in WORKER_ENV.items():
        os.environ.setdefault(k, v)
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    confs = dict(DEFAULT_CONFS)
    for k, v in WORKER_ENV.items():
        confs.setdefault(f"spark.executorEnv.{k}", v)
    if extra_conf:
        confs.update(extra_conf)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

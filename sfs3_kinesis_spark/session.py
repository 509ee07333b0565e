"""SparkSession factory.

One place for every performance-relevant conf so that tests, bench
and the driver all run the same engine configuration.

Scale posture: these confs are chosen to survive a 1000-executor /
100 TB deployment, not just local[32] — AQE for runtime re-planning
(skew joins, partition coalescing), Arrow for any Python boundary,
UTC session time zone so results are comparable across engines, and
non-ANSI evaluation so expression semantics match the permissive
JSON world of the reference (`aprocess.js` never range-checks).

Python workers fork from the engine's own daemon module
(``worker_daemon``).  pyspark's worker calls
``importlib.invalidate_caches()`` before every task, and up to CPython
3.12 that re-reads ``pyspark.zip``'s whole central directory once per
cached zip importer (about 16 per task); 3.13 makes the re-read lazy.
The daemon re-reads an archive only when its stamp changes.  The
workers get the package root on ``PYTHONPATH`` so the daemon, and
every UDF pickled by reference, import whatever the caller's cwd.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    """``SPARK_GRAFT_CPUS`` if set, else the cores this process may
    run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def default_driver_memory() -> str:
    """Half the box's physical memory in whole GB, within [1g, 48g]:
    the JVM heap must leave room for its own off-heap use and for the
    Python workers, or the kernel kills it."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48, max(1, total // 2**31))}g"


def get_spark(app_name: str = "sfs3_kinesis_spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``shuffle_partitions`` defaults to the local core count — at
    cluster scale this is overridden by AQE coalescing anyway
    (`spark.sql.adaptive.coalescePartitions.enabled`), so the value
    only sets the pre-AQE upper bound.
    """
    cpus = default_parallelism()
    n_shuffle = shuffle_partitions if shuffle_partitions is not None else cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalescing floor is 1 MB per partition: any shuffle
        # under ~32 MB collapses to a few partitions and the following
        # stage (a window over users, a pair join) runs on 1-4 of the
        # 32 cores.  Lower the floor so CPU-heavy small-shuffle stages
        # still fan out; at real scale the adaptively computed target
        # (bytes / parallelism) is far above this and nothing changes.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # the events fixture carries TIMESTAMP(NANOS) which the parquet
        # reader rejects; read as LONG nanos and convert at the source
        # (sources.batch.load_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "sfs3_kinesis_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
        # reliable-checkpoint files are reclaimed when their RDD is GC'd
        # (otherwise every lineage_pin call leaks a checkpoint dir)
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if spark.sparkContext.getCheckpointDir() is None:
        # reliable-checkpoint home for the iterative operators
        # (connected components, k-core peeling, Bradley-Terry):
        # with a checkpoint dir configured, operators.scale.lineage_pin
        # writes recomputable checkpoint files instead of executor-local
        # blocks, so losing an executor on a real (spot/preemptible)
        # cluster recovers instead of failing the job.  On a cluster
        # this should point at HDFS/S3; locally a tmp dir models it.
        spark.sparkContext.setCheckpointDir(
            os.path.join(
                tempfile.gettempdir(), f"sfs3-ckpt-{os.getpid()}"
            )
        )
    return spark

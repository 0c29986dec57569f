"""SparkSession factory and session tuning.

Local-mode defaults follow the public Spark tuning guidance: shuffle
partitions sized to cores (not the 200 default), AQE on for runtime
re-planning and skew handling, Arrow on for any pandas exchange, and the
session timezone pinned to UTC so timestamp semantics match a UTC-naive
oracle (DuckDB).

``get_spark`` sets two shuffle widths, one for batch plans and one for
streaming plans, in two confs. ``SQLConf.numShufflePartitions`` returns
``spark.sql.adaptive.coalescePartitions.initialPartitionNum`` when AQE
and partition coalescing are on, as ``_RUNTIME_CONFS`` keeps them for
every batch query, and ``spark.sql.shuffle.partitions`` when AQE is off,
as ``StreamExecution`` turns it off in each streaming query's cloned
session. So the batch width goes in the first conf and the streaming
(stateful operator) width in the second.

``get_spark`` also writes every streaming checkpoint file (offset log,
commit log, HDFS-backed and RocksDB state-store files) through
``FileSystemBasedCheckpointFileManager`` instead of Spark's default
``FileContextBasedCheckpointFileManager``. Without native libhadoop,
Hadoop's local file system runs shell commands for what the native
library would do: through ``FileContext`` each checkpoint file costs 8
``readlink`` and 2 ``chmod`` runs, 20 spawned processes in all, and
through ``FileSystem`` only the 2 ``chmod`` runs, 4 processes (the
``processes`` delta of ``/proc/stat`` over 50 ``createAtomic`` calls on
a 4-core host). Every data batch writes 2 such files on a stateless
query, and on a stateful one 2 plus one delta file per state store.
Both managers write a temp file and rename it into place, and with
``overwriteIfPossible=False`` both refuse to replace an existing file.
``FileSystem``'s rename is atomic only where the store's rename is,
which holds for the local disk a ``local[...]`` session checkpoints to.
Hadoop's ``.crc`` siblings and Spark's ``.delta.crc`` state checksums
are still written and checked. The conf is set only in ``get_spark``,
never in ``_RUNTIME_CONFS``: a session the driver harness builds may
checkpoint to HDFS or S3, where only ``FileContext`` promises an atomic
rename, so it keeps Spark's default.

``get_spark`` also forks every Python worker from the engine daemon
``ws_to_kafka_spark.worker_daemon`` (``spark.python.daemon.module``)
instead of ``pyspark.daemon``. Each Python task calls
``importlib.invalidate_caches()`` in ``setup_spark_files``, and before
Python 3.13 that re-reads the directory of every zip archive on the
worker's import path, Spark's ``spark-core`` jar and ``pyspark.zip``
among them: 174-233 ms per task on a 4-core host, for archives that do
not change. The engine daemon re-reads an archive only when its stat
changed. Over 2 partitions, a warm identity ``mapInArrow`` job fell from
270-500 ms to 150-220 ms and a ``pandas_udf`` select from 270-490 ms to
160-260 ms, while a job with no Python worker read 35-105 ms on both
(medians of 12 jobs in each of 4 process pairs on a 4-core host). On
3.13 and later the daemon changes nothing, because the stock method is
already lazy. The daemon starts with ``python -m`` in the driver's
working directory, which need not hold this package, so ``get_spark``
puts this package's root on
``spark.executorEnv.PYTHONPATH``: without it, a driver started outside
the repository with no ``PYTHONPATH`` cannot launch any Python task.
Like the checkpoint manager, the daemon is set only in ``get_spark``: a
session the driver harness builds keeps Spark's default daemon.

``ensure_session_confs`` is separated out because the driver harness hands us
an externally created ``SparkSession``; every conf it sets is dynamically
settable so we can tune sessions we did not build.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: The directory holding this package, for the worker daemon's imports.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: The shuffle width batch plans read while AQE coalescing is on.
BATCH_WIDTH_CONF = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
#: The shuffle width streaming plans read (AQE is off in them).
STREAM_WIDTH_CONF = "spark.sql.shuffle.partitions"

#: Confs that are safe (and necessary) to set on an existing session.
_RUNTIME_CONFS = {
    # The driver fixtures store events.ts as parquet TIMESTAMP(NANOS) which
    # Spark's vectorized reader rejects by default; read it as nanos-long and
    # convert in the loader (see tables.load).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # UTC so TimestampType aligns with UTC-naive oracle timestamps.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime coalescing, skew-join splitting, broadcast demotion.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent)."""
    for key, value in _RUNTIME_CONFS.items():
        try:
            if spark.conf.get(key, None) != value:
                spark.conf.set(key, value)
        except Exception:
            # Non-settable on this build — keep going; the loader copes.
            pass
    return spark


def get_spark(
    app_name: str = "ws_to_kafka_spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession tuned for this engine.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or ``*``.

    Batch width (``BATCH_WIDTH_CONF``): ``shuffle_partitions``, else
    ``max(cpus // 2, 8)``, else 16 when ``cpus`` is not a number.
    Measured (sf0.1, local[32]): every exchange writes map_tasks x
    shuffle_partitions blocks, and at test scale that quadratic fan-out
    — not reducer-side work, which AQE already coalesces — dominates
    multi-stage queries (16 vs 64 partitions: PageRank 3.0s -> 1.7s,
    connected components 2.4s -> 1.4s, triangles 3.4s -> 1.7s, with no
    query measurably hurt). On a real cluster these come from
    spark-submit sized to data volume (~128MB per reduce partition), not
    from this local heuristic; everything else in the engine is
    partition-count agnostic.

    Streaming width (``STREAM_WIDTH_CONF``): ``defaultParallelism``
    capped at the batch width, so at most one stateful task per core and
    one task wave per stage, and never more stores than the batch width.
    A stateful operator keeps one state store per partition and commits
    every store in every microbatch, so on a 4-core host 16 partitions
    cost four waves of store commits per stage. Measured on a 4-core
    host (perfbench ``ws_sharded_stateful``, 10 interleaved pairs),
    16 -> 4 partitions took the p50 latency at 500 frames/s from 2.79 s
    to 1.37 s and the burst drain from 4.7k to 8.3k frames/s; 1, 2 and
    4 partitions all beat 16. More partitions than the batch width were
    not measured, hence the cap.

    Restarts: Spark reads the streaming width when a query starts
    without a checkpoint and records it in the checkpoint's offset
    metadata. A restart keeps the recorded count, so existing
    checkpoints keep their width and only new ones take the new width.

    Checkpoints (``spark.sql.streaming.checkpointFileManagerClass``):
    written through the Hadoop ``FileSystem`` API, 4 spawned processes
    per file instead of 20 through ``FileContext`` (see the module
    docstring). This assumes
    the checkpoint directory is local, as for every session this
    function builds: there a temp file renamed within one directory is
    atomic. Checksums (``.crc``, ``.delta.crc``) are kept. Measured on a
    4-core host (perfbench, interleaved pairs), the p50 latency at
    500 frames/s fell to 0.74x on ``ws_sharded_stateful`` (1.81 s to
    1.33 s, 20 pairs) and the p50 latency at 5000 frames/s to 0.61x on
    ``ws_forward`` (297 ms to 182 ms, 12 pairs); in traced runs the
    offset-log and commit-log writes fell from about 40 ms to about
    12 ms each and the stateful batch's state-store commit time from
    759 ms to 35 ms.

    Python workers (``spark.python.daemon.module``): forked from
    ``ws_to_kafka_spark.worker_daemon``, which skips the per-task
    re-read of unchanged zip archives that
    ``importlib.invalidate_caches`` costs before Python 3.13 (174-233 ms
    per task; see the module docstring). A warm identity ``mapInArrow``
    job fell from about 360 ms to about 175 ms, and on a 4-core host
    (perfbench ``ws_sharded_stateful``, 12 interleaved pairs) the p50
    latency at 500 frames/s fell to 0.69x (980 ms to 677 ms), because
    every data batch runs one Python task per feed.
    ``spark.executorEnv.PYTHONPATH`` carries this package's root so the
    daemon module imports from any working directory; Spark merges it
    with its own Python path and the driver's ``PYTHONPATH``.
    """
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(str(cpus)) // 2, 8)
        except ValueError:
            shuffle_partitions = 16

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config(BATCH_WIDTH_CONF, str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.python.daemon.module", "ws_to_kafka_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for key, value in _RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    stream_width = min(spark.sparkContext.defaultParallelism, shuffle_partitions)
    spark.conf.set(STREAM_WIDTH_CONF, str(stream_width))
    return ensure_session_confs(spark)

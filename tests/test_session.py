"""Session tuning: the batch and streaming shuffle widths and the
checkpoint writer ``get_spark`` sets."""

from __future__ import annotations

from ws_to_kafka_spark.session import BATCH_WIDTH_CONF, STREAM_WIDTH_CONF


def test_batch_and_streaming_widths_are_separate(spark):
    """Batch plans take the ``shuffle_partitions`` argument (4 for the
    test session) through AQE's initial partition number; streaming
    plans, where AQE is off, take one partition per core, capped at the
    batch width."""
    assert spark.conf.get(BATCH_WIDTH_CONF) == "4"
    assert spark.conf.get(STREAM_WIDTH_CONF) == str(
        min(spark.sparkContext.defaultParallelism, 4)
    )
    jconf = spark._jsparkSession.sessionState().conf()
    assert jconf.numShufflePartitions() == 4


def test_streaming_width_never_exceeds_batch_width(spark):
    """Below the core count the batch width caps the streaming width, so
    no host gets more state stores per operator than the batch width."""
    from ws_to_kafka_spark.session import get_spark

    try:
        same = get_spark("tests", shuffle_partitions=1)
        assert same is spark
        assert spark.conf.get(BATCH_WIDTH_CONF) == "1"
        assert spark.conf.get(STREAM_WIDTH_CONF) == "1"
    finally:
        get_spark("tests", shuffle_partitions=4)
    assert spark.conf.get(BATCH_WIDTH_CONF) == "4"


def test_checkpoint_files_are_written_through_the_file_system_api(
    spark, tmp_path
):
    """``get_spark`` sessions write streaming checkpoint files through
    ``FileSystemBasedCheckpointFileManager``: still a temp file renamed
    into place, still with a Hadoop ``.crc`` sibling, and still refusing
    to overwrite an existing file when ``overwriteIfPossible`` is off."""
    import pytest
    from py4j.protocol import Py4JJavaError

    jvm = spark._jvm
    managers = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    factory = getattr(managers, "CheckpointFileManager$").__getattr__("MODULE$")
    root = jvm.org.apache.hadoop.fs.Path(str(tmp_path))
    manager = factory.create(
        root, spark._jsparkSession.sessionState().newHadoopConf()
    )
    assert manager.getClass().getName() == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )

    target = jvm.org.apache.hadoop.fs.Path(root, "0")
    out = manager.createAtomic(target, False)
    out.write(b"v1\n")
    out.close()
    assert (tmp_path / "0").read_bytes() == b"v1\n"
    assert (tmp_path / ".0.crc").exists()

    with pytest.raises(Py4JJavaError, match="(?i)exist"):
        again = manager.createAtomic(target, False)
        again.write(b"v2\n")
        again.close()
    assert (tmp_path / "0").read_bytes() == b"v1\n"


def test_python_workers_run_under_the_engine_daemon(spark):
    """``get_spark`` sessions fork Python workers from
    ``ws_to_kafka_spark.worker_daemon``, whose ``zipimporter`` re-reads
    an archive only when it changed (Python < 3.13; 3.13's stock method
    is already lazy and is left in place)."""
    import sys

    def probe(batches):
        import zipimport

        import pyarrow as pa

        yield pa.RecordBatch.from_pydict(
            {"m": [zipimport.zipimporter.invalidate_caches.__module__]}
        )

    (row,) = spark.range(1, numPartitions=1).mapInArrow(probe, "m string").collect()
    expected = (
        "ws_to_kafka_spark.worker_daemon"
        if sys.version_info < (3, 13)
        else "zipimport"
    )
    assert row.m == expected


def test_python_tasks_run_from_a_foreign_cwd_without_pythonpath(tmp_path):
    """A driver started outside the repository, with no ``PYTHONPATH``,
    still launches the engine daemon: ``get_spark`` puts the package
    root on the executors' ``PYTHONPATH``."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import sys
sys.path.insert(0, {root!r})
from ws_to_kafka_spark.session import get_spark
spark = get_spark("foreign-cwd", cpus=2)
rows = spark.range(3, numPartitions=1).mapInArrow(
    lambda batches: batches, "id long").collect()
assert sorted(r.id for r in rows) == [0, 1, 2], rows
spark.stop()
print("ok")
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.setdefault("SPARK_DRIVER_MEMORY", "1g")
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert proc.stdout.strip().endswith("ok")

"""The WebSocket → Kafka pipeline — the reference's entire program
(``/root/reference/src/main.cpp:24-68``) as a Structured Streaming query.

Reference dataflow and its Spark expression:

* callback wiring ``payload → Publish(payload, size, key)``
  (``main.cpp:48-50``) → ``select(value, lit(key), timestamp)`` — the
  identity projection plus static-key and processing-time enrichment
  (O5–O7 in SURVEY.md §2.1);
* ``KafkaProducer`` async produce (``kafka_producer.cpp:36-57``) →
  the built-in ``writeStream.format("kafka")`` sink, which expects exactly
  the ``key``/``value``/``timestamp`` column contract;
* graceful shutdown + restart-from-scratch (``main.cpp:42-46``) →
  ``query.stop()`` + checkpointed recovery (strictly stronger than the
  reference: it resumes, the reference reconnects and forgets).

Delivery: the reference is at-most-once (produce failures are logged and
dropped, ``kafka_producer.cpp:54-56``); the Spark sink with checkpointing
upgrades this to at-least-once. SURVEY.md §2.1 documents the deliberate
non-goal of exactly-once.

Scale note: the source's one socket is read by a thread of Spark's
driver-side source runner and reaches the query as one input partition
per microbatch; the sink fan-out is governed by Kafka partitioning on the
record key. For multi-feed deployments, ``websocket_multi`` reads N
sockets through the same stream reader, each decoded in its own child
process; feeds that need isolated checkpoints and backpressure run one
query each.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..config import PipelineConfig
from ..sources.websocket import register_websocket_source


def build_stream(spark: SparkSession, config: PipelineConfig) -> DataFrame:
    """readStream(websocket) → (value, key, timestamp): the wire frame
    enriched exactly as the reference enriches it (static key from config,
    processing-time stamp — main.cpp:88, kafka_producer.cpp:41-42)."""
    register_websocket_source(spark)
    reader = (
        spark.readStream.format("websocket")
        .option("url", config.url)
    )
    if config.subscribe_message:
        reader = reader.option("subscribe", config.subscribe_message)
    if config.interval_messages.interval_seconds > 0:
        reader = reader.option(
            "interval", config.interval_messages.interval_seconds
        ).option(
            "interval_messages", json.dumps(list(config.interval_messages.messages))
        )
    frames = reader.load()
    return frames.select(
        F.col("value"),
        F.lit(config.key).alias("key"),
        F.col("ws_timestamp").alias("timestamp"),
    )


def build_writer(
    spark: SparkSession,
    config: PipelineConfig,
    checkpoint_dir: str,
    *,
    sink_format: str = "kafka",
    query_name: str = "ws_to_kafka",
    trigger_interval: str | None = None,
    foreach_batch=None,
):
    """Build the (un-started) writer for the pipeline — split from
    :func:`start_pipeline` so the environment-without-a-broker contract
    test can assert the kafka sink's option plumbing (bootstrap servers,
    topic, checkpoint) on the writer object itself."""
    stream = build_stream(spark, config)
    writer = stream.writeStream.queryName(query_name).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_interval:
        writer = writer.trigger(processingTime=trigger_interval)
    if foreach_batch is not None:
        writer = writer.foreachBatch(foreach_batch)
    elif sink_format == "kafka":
        writer = (
            writer.format("kafka")
            .option("kafka.bootstrap.servers", config.brokers)
            .option("topic", config.topic)
        )
    else:
        writer = writer.format(sink_format)
    return writer


def start_pipeline(
    spark: SparkSession,
    config: PipelineConfig,
    checkpoint_dir: str,
    *,
    sink_format: str = "kafka",
    query_name: str = "ws_to_kafka",
    trigger_interval: str | None = None,
    foreach_batch=None,
) -> StreamingQuery:
    """Start the full pipeline. ``sink_format='kafka'`` is production
    (needs the Kafka connector on the classpath); ``'memory'`` runs the
    identical plan into an in-memory table for tests/CI, mirroring how the
    reference is exercised without a broker; passing ``foreach_batch``
    routes every microbatch through a callable ``(DataFrame, batch_id)`` —
    the escape hatch for sinks without a native connector."""
    return build_writer(
        spark,
        config,
        checkpoint_dir,
        sink_format=sink_format,
        query_name=query_name,
        trigger_interval=trigger_interval,
        foreach_batch=foreach_batch,
    ).start()

"""Process entry point — parity with the reference binary's usage
(``ws-to-kafka config.json``: ``/root/reference/src/main.cpp:70-78`` reads
the config path from argv, ``:80-107`` wires and runs the pipeline).

    python -m ws_to_kafka_spark config.json [--sink memory] [--checkpoint DIR]

Runs the WebSocket → Kafka pipeline until SIGINT, then stops the query
gracefully (the reference's shutdown_handler → flush path,
``src/main.cpp:42-46``; checkpointing makes our restart resumable where
the reference restarts from scratch).
"""

from __future__ import annotations

import argparse
import logging
import signal
import sys
import tempfile
import threading

from .config import PipelineConfig
from .session import get_spark
from .streaming import start_pipeline
from .streaming.observability import PipelineListener


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="ws_to_kafka_spark")
    parser.add_argument("config", help="config.json (reference-shaped)")
    parser.add_argument(
        "--sink", default="kafka", help="sink format (kafka|memory|console)"
    )
    parser.add_argument(
        "--checkpoint",
        default=None,
        help=(
            "checkpoint dir, a local directory (default: a temp dir — "
            "at-most-once, like the reference)"
        ),
    )
    args = parser.parse_args(argv)

    logging.basicConfig(level=logging.INFO, format="%(asctime)s %(levelname)s %(message)s")
    config = PipelineConfig.from_json_file(args.config)
    spark = get_spark("ws_to_kafka")
    listener = PipelineListener()
    spark.streams.addListener(listener)
    checkpoint = args.checkpoint or tempfile.mkdtemp(prefix="ws2k-ckpt-")
    query = start_pipeline(spark, config, checkpoint, sink_format=args.sink)

    # Signal handlers must not call into the JVM (py4j is not reentrant
    # from signal context) — set a flag, act on the main thread. Mirrors
    # the reference's handler, which also only flips a flag and posts the
    # close to the event loop (main.cpp:20-22, wsclient.hpp:185-203).
    stop_requested = threading.Event()
    signal.signal(signal.SIGINT, lambda signum, frame: stop_requested.set())
    while query.isActive and not stop_requested.is_set():
        query.awaitTermination(1)
    if query.isActive:
        logging.getLogger("ws_to_kafka_spark").info("SIGINT → stopping query")
        query.stop()
        query.awaitTermination()
    return 0


if __name__ == "__main__":
    sys.exit(main())

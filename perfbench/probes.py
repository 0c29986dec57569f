"""Per-layer probes of the source layers, run in every traced run.

Each probe drives one layer's public surface directly against the feed
generator, outside Spark, so its numbers belong to that layer alone:

* ``ws_client``       -- ``WsClient.connect()`` and ``frames()`` over a burst;
* ``websocket``       -- ``WebSocketStreamReader.read/commit`` at a fixed
  trigger cadence while the generator sends at the ws_forward high rate;
* ``websocket_multi`` -- ``latestOffset``, ``partitions`` and
  ``read(partition)`` of the process-mode reader over two event feeds;
* ``feed_proc``       -- ``pack_frames`` on the events frame shape.
"""

from __future__ import annotations

import json
import time

from frames import EventFrames
from ws import FORWARD, SHARDED, pct

#: The per-layer metrics :func:`run_probes` returns.
METRICS = (
    "ws_client.frames_per_s", "ws_client.connect_ms",
    "websocket.read_ms_p50", "websocket.read_ms_p99", "websocket.rows_per_read",
    "websocket.commit_ms_p50",
    "websocket_multi.latest_offset_ms_p50", "websocket_multi.partitions_ms_p50",
    "websocket_multi.read_rows_per_s",
    "feed_proc.pack_frames_per_s",
)
#: Seconds between reader calls, about one ws_forward microbatch.
CADENCE_S = 0.25
PROBE_SECONDS = 2.0


def probe_ws_client(feed, tracer, n: int = 30_000) -> dict:
    from ws_to_kafka_spark.sources.ws_client import WsClient

    connects = []
    for gen in range(1, 4):
        client = WsClient(feed.url("t/9"))
        with tracer.span("ws_client.connect"):
            t = time.perf_counter()
            client.connect()
            connects.append((time.perf_counter() - t) * 1000)
        feed.call({"cmd": "await", "key": "t/9", "gen": gen})
        if gen < 3:
            client.close()
    try:
        cid = feed.submit({"cmd": "send", "keys": ["t/9"], "n": n, "rate": 0})
        frames = client.frames()
        with tracer.span("ws_client.frames", n=n):
            t = time.perf_counter()
            for _ in range(n):
                next(frames)
            elapsed = time.perf_counter() - t
        feed.wait(cid)
    finally:
        client.close()
    return {"ws_client.frames_per_s": n / elapsed, "ws_client.connect_ms": pct(connects, 50)}


def probe_websocket(feed, tracer) -> dict:
    from ws_to_kafka_spark.sources.websocket import WebSocketStreamReader

    reader = WebSocketStreamReader({"url": feed.url("t/8")})
    read_ms, commit_ms, rows = [], [], []
    try:
        batches, offset = reader.read({"index": 0})  # dials the feed
        feed.call({"cmd": "await", "key": "t/8", "gen": 1})
        cid = feed.submit({"cmd": "send", "keys": ["t/8"],
                           "n": int(FORWARD.rate_high * PROBE_SECONDS),
                           "rate": FORWARD.rate_high})
        deadline = time.monotonic() + PROBE_SECONDS + 1.0
        while time.monotonic() < deadline:
            time.sleep(CADENCE_S)
            with tracer.span("websocket.read"):
                t = time.perf_counter()
                batches, end = reader.read(offset)
                n = sum(b.num_rows for b in batches)
                read_ms.append((time.perf_counter() - t) * 1000)
            with tracer.span("websocket.commit"):
                t = time.perf_counter()
                reader.commit(end)
                commit_ms.append((time.perf_counter() - t) * 1000)
            rows.append(n)
            offset = end
        feed.wait(cid)
    finally:
        reader.stop()
    busy = [r for r, n in zip(read_ms, rows) if n]
    return {
        "websocket.read_ms_p50": pct(busy, 50),
        "websocket.read_ms_p99": pct(busy, 99),
        "websocket.rows_per_read": pct([n for n in rows if n], 50),
        "websocket.commit_ms_p50": pct(commit_ms, 50),
    }


def probe_websocket_multi(feed, tracer) -> dict:
    from ws_to_kafka_spark.sources.websocket import MultiWebSocketStreamReader

    keys = ["e/8", "e/9"]
    reader = MultiWebSocketStreamReader({"urls": json.dumps([feed.url(k) for k in keys])})
    latest_ms, parts_ms = [], []
    read_rows, read_s = 0, 0.0
    try:
        start = reader.initialOffset()
        reader.latestOffset()  # spawns the feed children
        for k in keys:
            feed.call({"cmd": "await", "key": k, "gen": 1}, timeout=60)
        rate = SHARDED.rate_high / 2
        cid = feed.submit({"cmd": "send", "keys": keys,
                           "n": int(rate * PROBE_SECONDS), "rate": rate})
        deadline = time.monotonic() + PROBE_SECONDS + 1.0
        while time.monotonic() < deadline:
            time.sleep(CADENCE_S)
            with tracer.span("websocket_multi.latestOffset"):
                t = time.perf_counter()
                end = reader.latestOffset()
                latest_ms.append((time.perf_counter() - t) * 1000)
            with tracer.span("websocket_multi.partitions"):
                t = time.perf_counter()
                parts = reader.partitions(start, end)
                parts_ms.append((time.perf_counter() - t) * 1000)
            with tracer.span("websocket_multi.read"):
                t = time.perf_counter()
                for part in parts:
                    read_rows += sum(b.num_rows for b in reader.read(part))
                read_s += time.perf_counter() - t
            reader.commit(end)
            start = end
        feed.wait(cid)
    finally:
        reader.stop()
    return {
        "websocket_multi.latest_offset_ms_p50": pct(latest_ms, 50),
        "websocket_multi.partitions_ms_p50": pct(parts_ms, 50),
        "websocket_multi.read_rows_per_s": read_rows / read_s if read_s else 0.0,
    }


def probe_feed_proc(seed: int, tracer, n: int = 20_000, flush: int = 300) -> dict:
    """``pack_frames`` over flush-sized slices (about 15 ms of frames at
    the ws_sharded_stateful high rate)."""
    from ws_to_kafka_spark.sources.feed_proc import pack_frames

    frames = EventFrames(seed)
    items = [(1_700_000_000_000_000 + i, frames.frame(0, i, i)) for i in range(n)]
    with tracer.span("feed_proc.pack_frames", n=n):
        t = time.perf_counter()
        for lo in range(0, n, flush):
            pack_frames(items[lo:lo + flush])
        elapsed = time.perf_counter() - t
    return {"feed_proc.pack_frames_per_s": n / elapsed}


def run_probes(feed, seed: int, tracer) -> dict:
    out = {}
    with tracer.span("probes"):
        out.update(probe_ws_client(feed, tracer))
        out.update(probe_websocket(feed, tracer))
        out.update(probe_websocket_multi(feed, tracer))
        out.update(probe_feed_proc(seed, tracer))
    return out

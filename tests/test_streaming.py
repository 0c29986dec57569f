"""Streaming parity tests (SURVEY.md §5.2): the WebSocket client against a
local recording server, the full Spark pipeline into a memory sink, and the
streaming analytics operators driven through the WebSocket source.

Reference behaviors asserted: subscribe message sent on (re)connect
(/root/reference/src/wsclient.hpp:144), frames forwarded verbatim
(src/main.cpp:48-50), interval messages re-sent periodically
(src/main.cpp:54-62), reconnect after a server drop
(src/wsclient.hpp:158-162).
"""

from __future__ import annotations

import json
import struct
import time
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StructField,
    StructType,
    TimestampType,
)

from tests.ws_server import RecordingWsServer
from ws_to_kafka_spark.config import PipelineConfig
from ws_to_kafka_spark.sources.ws_client import WsClient
from ws_to_kafka_spark.sources.websocket import _FeedWorker, _ProcFeedWorker
from ws_to_kafka_spark.streaming import start_pipeline
from ws_to_kafka_spark.streaming.observability import PipelineListener


def wait_until(cond, timeout=15.0, step=0.1):
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if cond():
            return True
        time.sleep(step)
    return False


def _buffered(worker) -> list[bytes]:
    """The payloads a feed owner retains, oldest first."""
    nxt, oldest = worker.peek()
    batches = worker.batches(oldest, nxt)
    return [v for b in batches for v in b.column("value").to_pylist()]


# ---------------------------------------------------------------------------
# Client level (no Spark)
# ---------------------------------------------------------------------------

def test_client_receives_frames_and_subscribes():
    server = RecordingWsServer(frames_per_connection=[b"f1", b"f2", b"f3"])
    try:
        client = WsClient(server.url)
        client.connect()
        client.send('{"action":"subscribe"}')
        got = []
        for payload in client.frames():
            got.append(payload)
            if len(got) == 3:
                break
        assert got == [b"f1", b"f2", b"f3"]
        assert wait_until(lambda: server.received == [b'{"action":"subscribe"}'])
        client.close()
    finally:
        server.close()


def test_handshake_rejects_non_101_status():
    """The status CODE field must be exactly 101 — a '1010' code or a reason
    phrase containing '101' is not an upgrade (substring matching was the
    round-2 bug)."""
    import socket as socket_mod
    import threading

    from ws_to_kafka_spark.sources.ws_client import WsError

    for status_line in (
        "HTTP/1.1 1010 Weird Extension Code",
        "HTTP/1.1 200 Upgrade code was 101",
        "HTTP/1.1",
    ):
        srv = socket_mod.socket(socket_mod.AF_INET, socket_mod.SOCK_STREAM)
        srv.setsockopt(socket_mod.SOL_SOCKET, socket_mod.SO_REUSEADDR, 1)
        srv.bind(("127.0.0.1", 0))
        srv.listen(1)
        port = srv.getsockname()[1]

        def answer(sock=srv, line=status_line):
            conn, _ = sock.accept()
            conn.recv(4096)
            conn.sendall(f"{line}\r\nConnection: close\r\n\r\n".encode())
            conn.close()

        t = threading.Thread(target=answer, daemon=True)
        t.start()
        client = WsClient(f"ws://127.0.0.1:{port}/feed")
        with pytest.raises(WsError, match="handshake rejected"):
            client.connect()
        srv.close()


def test_concurrent_writes_do_not_interleave():
    """Frames sent from many threads must arrive intact: every outbound
    frame write serializes on WsClient's internal lock (the reference gets
    this from its single-threaded asio executor). Large payloads make a
    split sendall — and therefore interleaved corruption — likely if the
    lock is missing."""
    import threading

    server = RecordingWsServer()
    try:
        client = WsClient(server.url)
        client.connect()
        n_threads, per_thread = 8, 20
        payload_of = lambda t, i: (f"{t}:{i}:" + "x" * 64_000).encode()

        def writer(t):
            for i in range(per_thread):
                client.send(payload_of(t, i))

        threads = [
            threading.Thread(target=writer, args=(t,)) for t in range(n_threads)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        expected = {
            payload_of(t, i) for t in range(n_threads) for i in range(per_thread)
        }
        assert wait_until(
            lambda: len(server.received) >= n_threads * per_thread, timeout=30
        ), f"only {len(server.received)} of {n_threads * per_thread} frames arrived"
        assert set(server.received) == expected
        client.close()
    finally:
        server.close()


def test_feed_worker_reconnects_and_resubscribes():
    """Abrupt drop after 1 frame → worker must redial and re-send the
    subscription (reference re-subscribes on every reconnect)."""
    server = RecordingWsServer(
        frames_per_connection=[b"a", b"b"], drop_after_frames=1
    )
    worker = _FeedWorker(
        # keep the test fast; production default reconnect_delay is 5 s
        {"url": server.url, "subscribe": "SUB", "reconnect_delay": 0.2}
    )
    try:
        worker.start()
        assert wait_until(lambda: server.connections >= 2), "no reconnect"
        # the re-subscribe must arrive on the RECONNECT connection; the
        # dropped first connection's SUB may be lost to the close/reader
        # race, so assert per-connection, not on the global count
        assert wait_until(
            lambda: len(server.received_per_conn) >= 2
            and b"SUB" in server.received_per_conn[-1]
        ), "subscribe not re-sent after reconnect"
        # The second connection's frames always land; the first connection's
        # "a" MAY be lost to the abrupt drop (RST can discard delivered-but-
        # unread bytes) — that loss is the documented at-most-once window
        # (reference drops frames during reconnect too, wsclient.hpp:158-162).
        assert wait_until(
            lambda: _buffered(worker)[-2:] == [b"a", b"b"]
        )
    finally:
        worker.stop()
        server.close()


def test_idle_feed_stays_connected():
    """A healthy-but-quiet feed must NOT be torn down: after the 10 s idle
    timeout the client pings, the server pongs, and the SAME connection
    keeps delivering later frames (reference keep-alive semantics,
    src/wsclient.hpp:20,141-142). A regression here duplicates every
    frame on idle streams via redial."""
    server = RecordingWsServer(frames_per_connection=[b"early"])
    worker = _FeedWorker({"url": server.url})
    try:
        worker.start()
        assert wait_until(lambda: len(_buffered(worker)) == 1)
        time.sleep(12)  # cross the idle-timeout boundary
        server.push_frame(b"late")
        assert wait_until(
            lambda: _buffered(worker) == [b"early", b"late"]
        ), "late frame lost or duplicated after idle interval"
        assert server.connections == 1, "client redialed a healthy idle feed"
    finally:
        worker.stop()
        server.close()


def test_interval_messages_resent_periodically():
    server = RecordingWsServer()
    worker = _FeedWorker(
        {"url": server.url, "interval": 0.15, "interval_messages": ("T1", "T2")}
    )
    try:
        worker.start()
        assert wait_until(lambda: server.received.count(b"T1") >= 2)
        assert server.received.count(b"T2") >= 1
        # fixed-rate ordering: T1 always precedes T2 within a burst
        first_t1 = server.received.index(b"T1")
        assert b"T2" in server.received[first_t1 + 1:]
    finally:
        worker.stop()
        server.close()


# ---------------------------------------------------------------------------
# Full pipeline: websocket source → select(value,key,ts) → memory sink
# ---------------------------------------------------------------------------

@pytest.fixture
def event_frames():
    return [
        json.dumps(
            {"event_id": i, "user_id": i % 3, "value": float(i), "ts_ms": 1704067200000 + i * 60000}
        ).encode()
        for i in range(12)
    ]


def test_pipeline_end_to_end_memory_sink(spark, tmp_path, event_frames):
    server = RecordingWsServer(frames_per_connection=event_frames)
    listener = PipelineListener()
    spark.streams.addListener(listener)
    config = PipelineConfig(
        url=server.url,
        brokers="",
        topic="",
        key="feed-key",
        subscribe_message='{"action":"subscribe"}',
    )
    query = start_pipeline(
        spark,
        config,
        checkpoint_dir=str(tmp_path / "ckpt"),
        sink_format="memory",
        query_name="ws_pipe_test",
    )
    try:
        assert wait_until(
            lambda: spark.sql("SELECT COUNT(*) c FROM ws_pipe_test").first().c >= 12,
            timeout=60,
        ), "rows never arrived in the memory sink"
        rows = spark.sql("SELECT * FROM ws_pipe_test").collect()
        # O5-O7: verbatim value, static key, processing-time timestamp
        assert {r.key for r in rows} == {"feed-key"}
        assert list(rows[0].__fields__) == ["value", "key", "timestamp"]
        payloads = sorted(json.loads(r.value)["event_id"] for r in rows)
        assert payloads == list(range(12))
        assert all(r.timestamp is not None for r in rows)
        # O13: the listener saw progress with input rows
        assert wait_until(lambda: listener.rows_seen >= 12, timeout=30)
        # subscribe reached the server before any frame
        assert server.received[0] == b'{"action":"subscribe"}'
    finally:
        query.stop()
        spark.streams.removeListener(listener)
        server.close()


def test_binary_frames_survive_byte_for_byte(spark, tmp_path):
    """O5 byte-faithfulness (round-3 verdict item #3): the reference
    forwards frame bytes VERBATIM (main.cpp:48-50 → kafka_producer.cpp:
    47-49, RK_MSG_COPY, no decode). A non-UTF-8 binary frame — invalid
    continuation bytes, embedded NUL, 0xFF — must reach the sink
    unchanged; the old string-typed value column decoded with
    errors='replace' and silently corrupted exactly these."""
    payloads = [
        b"\xff\xfe\x00\x01binary\x80\x81",   # invalid UTF-8 + NULs
        bytes(range(256)),                     # every byte value once
        b"plain text too",
    ]
    server = RecordingWsServer(frames_per_connection=payloads)
    config = PipelineConfig(
        url=server.url, brokers="", topic="", key="bin-key",
    )
    query = start_pipeline(
        spark,
        config,
        checkpoint_dir=str(tmp_path / "ckpt_bin"),
        sink_format="memory",
        query_name="ws_bin_test",
    )
    try:
        assert wait_until(
            lambda: spark.sql("SELECT COUNT(*) c FROM ws_bin_test").first().c >= 3,
            timeout=60,
        ), "binary frames never arrived"
        rows = spark.sql("SELECT value FROM ws_bin_test").collect()
        assert sorted(bytes(r.value) for r in rows) == sorted(payloads)
    finally:
        query.stop()
        server.close()


def test_pipeline_foreach_batch_parquet(spark, tmp_path, event_frames):
    """O8 sink contract, asserted END-TO-END on real rows — and unable to
    skip (round-6 VERDICT item 6: the live-broker module skips wherever
    there is no broker, leaving the key/value/timestamp contract
    unasserted on real data in the default suite).

    ``foreachBatch`` receives the IDENTICAL DataFrame that
    ``.format("kafka")`` would consume (build_writer branches only on the
    sink attachment — streaming/pipeline.py), so capturing those
    microbatches into parquet and asserting the Kafka record contract on
    them covers everything the connector sees: column set and types
    (value binary, key string, timestamp timestamp), frame bytes
    VERBATIM in ``value`` (O5), the static configured ``key`` on every
    record (O6), and a processing-time ``timestamp`` bracketed by the
    test's own clock (O7). The live round-trip against a real broker
    stays available in integration/test_kafka_live.py.
    """
    import datetime as _dt

    server = RecordingWsServer(frames_per_connection=event_frames)
    out = str(tmp_path / "out")
    config = PipelineConfig(url=server.url, brokers="", topic="", key="fb")

    def write_batch(df, batch_id):
        df.write.mode("append").parquet(out)

    t_start = _dt.datetime.now() - _dt.timedelta(seconds=1)
    query = start_pipeline(
        spark,
        config,
        checkpoint_dir=str(tmp_path / "ckpt"),
        foreach_batch=write_batch,
        query_name="fb_test",
    )
    try:
        assert wait_until(
            lambda: _parquet_rows(spark, out) >= 12, timeout=60
        ), "foreachBatch never wrote 12 rows"
        t_end = _dt.datetime.now() + _dt.timedelta(seconds=1)
        captured = spark.read.parquet(out)
        # exact Kafka record contract: column names AND types
        assert dict(captured.dtypes) == {
            "value": "binary",
            "key": "string",
            "timestamp": "timestamp",
        }
        rows = captured.collect()
        assert {r.key for r in rows} == {"fb"}
        assert sorted(bytes(r.value) for r in rows) == sorted(event_frames)
        assert all(t_start <= r.timestamp <= t_end for r in rows), (
            "timestamp must be processing time within the test window"
        )
    finally:
        query.stop()
        server.close()


def _parquet_rows(spark, path) -> int:
    try:
        return spark.read.parquet(path).count()
    except Exception:
        return 0


def test_kafka_writer_contract(spark, tmp_path):
    """The production kafka sink's plumbing, asserted without a broker: the
    writer object must carry format=kafka with the configured bootstrap
    servers, topic, and checkpoint, and the stream it writes must have
    exactly the key/value/timestamp column contract the kafka sink expects
    (reference output edge: /root/reference/src/kafka_producer.cpp:36-57).
    A misconfig here would otherwise only surface at start() in production.
    """
    from ws_to_kafka_spark.streaming import build_stream, build_writer

    config = PipelineConfig(
        url="ws://127.0.0.1:9/feed",
        brokers="broker1:9092,broker2:9092",
        topic="events.raw",
        key="feed-key",
    )
    stream = build_stream(spark, config)
    schema = {f.name: f.dataType.simpleString() for f in stream.schema.fields}
    # the kafka sink requires key/value as string or binary and honors an
    # optional timestamp column
    assert set(schema) == {"value", "key", "timestamp"}
    assert schema["value"] in ("string", "binary")
    assert schema["key"] in ("string", "binary")
    assert schema["timestamp"] == "timestamp"
    writer = build_writer(spark, config, str(tmp_path / "ckpt"))
    jw = writer._jwrite
    cls = jw.getClass()

    def field(name):
        f = cls.getDeclaredField(name)
        f.setAccessible(True)
        return f.get(jw)

    assert field("source") == "kafka"
    opts = field("extraOptions")
    got = {k: opts.get(k).get() for k in ("kafka.bootstrap.servers", "topic",
                                          "checkpointLocation")}
    assert got["kafka.bootstrap.servers"] == "broker1:9092,broker2:9092"
    assert got["topic"] == "events.raw"
    assert got["checkpointLocation"] == str(tmp_path / "ckpt")


def test_checkpoint_restart_resumes(spark, tmp_path):
    """Restart from a checkpoint must keep consuming: the committed offset
    N survives, and the fresh (non-replayable) connection's numbering is
    baselined at N — a regression here silently swallows the first N
    frames after every restart."""
    frames = [b'{"run":1,"n":%d}' % i for i in range(4)]
    server = RecordingWsServer(frames_per_connection=frames)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    config = PipelineConfig(url=server.url, brokers="", topic="", key="rs")

    def write_batch(df, batch_id):
        df.write.mode("append").parquet(out)

    query = start_pipeline(
        spark, config, checkpoint_dir=ckpt, foreach_batch=write_batch,
        query_name="rs1",
    )
    try:
        assert wait_until(lambda: _parquet_rows(spark, out) >= 4, timeout=60)
    finally:
        query.stop()

    # Restart against the same checkpoint. The server replays its 4
    # configured frames on the new connection and then 2 fresh ones —
    # ALL 6 must land (index baseline = committed offset, nothing skipped).
    query2 = start_pipeline(
        spark, config, checkpoint_dir=ckpt, foreach_batch=write_batch,
        query_name="rs2",
    )
    try:
        assert wait_until(lambda: server.connections >= 2, timeout=30)
        server.push_frame(b'{"run":2,"n":0}')
        server.push_frame(b'{"run":2,"n":1}')
        assert wait_until(
            lambda: _parquet_rows(spark, out) >= 10, timeout=60
        ), "frames after checkpoint restart were skipped"
        values = [bytes(r.value) for r in spark.read.parquet(out).collect()]
        assert sum(1 for v in values if b'"run":2' in v) == 2
    finally:
        query2.stop()
        server.close()


def test_websocket_resumes_a_checkpoint_with_the_index_offset(spark, tmp_path):
    """A checkpoint whose source offset has the shape the one-feed
    ``websocket`` source wrote before both sources shared one reader
    (``{"index": n}``) still resumes: the restarted query runs with no
    error, and its new frames land in batches whose offsets start at n
    or later."""
    from ws_to_kafka_spark.sources.websocket import register_websocket_source

    # frames are pushed explicitly: the recording server would replay a
    # frames_per_connection script to EACH connection
    server = RecordingWsServer(frames_per_connection=[])
    ckpt = tmp_path / "ckpt"
    seen: list[bytes] = []

    def sink(df, _batch_id):
        seen.extend(bytes(r.value) for r in df.collect())

    def start(name):
        register_websocket_source(spark)
        return (
            spark.readStream.format("websocket").option("url", server.url).load()
            .writeStream.foreachBatch(sink)
            .queryName(name)
            .option("checkpointLocation", str(ckpt))
            .trigger(processingTime="200 milliseconds")
            .start()
        )

    def offset(o):
        o = json.loads(o) if isinstance(o, str) else o
        return o["feeds"][0] if "feeds" in o else o["index"]

    try:
        query = start("index_offset_1")
        try:
            assert wait_until(lambda: server.connections >= 1, timeout=30)
            for i in range(3):
                server.push_frame(b"a-%d" % i)
            assert wait_until(lambda: len(seen) >= 3, timeout=60), seen
            query.processAllAvailable()
        finally:
            query.stop()

        # the last offset-log entry's source offset, in the old shape
        log_dir = ckpt / "offsets"
        last = max(
            (f for f in log_dir.iterdir() if f.name.isdigit()),
            key=lambda f: int(f.name),
        )
        lines = last.read_text().splitlines()
        n = json.loads(lines[-1])["feeds"][0]
        assert n == 3
        lines[-1] = json.dumps({"index": n})
        last.write_text("\n".join(lines))
        (log_dir / f".{last.name}.crc").unlink(missing_ok=True)

        query2 = start("index_offset_2")
        try:
            assert wait_until(lambda: server.connections >= 2, timeout=30)
            for i in range(2):
                server.push_frame(b"b-%d" % i)
            assert wait_until(lambda: len(seen) >= 5, timeout=60), seen
            query2.processAllAvailable()
            progress = [json.loads(p.json) for p in query2.recentProgress]
            landed = [p for p in progress if p["numInputRows"] > 0]
        finally:
            query2.stop()
        assert seen == [b"a-0", b"a-1", b"a-2", b"b-0", b"b-1"]
        assert sum(p["numInputRows"] for p in landed) == 2
        for p in landed:
            src = p["sources"][0]
            assert offset(src["startOffset"]) >= n, src
            assert (
                offset(src["endOffset"]) - offset(src["startOffset"])
                == p["numInputRows"]
            ), src
    finally:
        server.close()


# ---------------------------------------------------------------------------
# Streaming analytics ops driven through the WebSocket source
# ---------------------------------------------------------------------------

def _typed_stream(spark, url):
    from pyspark.sql import functions as F
    from ws_to_kafka_spark.sources.websocket import register_websocket_source

    register_websocket_source(spark)
    raw = spark.readStream.format("websocket").option("url", url).load()
    raw = raw.withColumn("value", raw.value.cast("string"))
    parsed = raw.select(
        F.get_json_object("value", "$.event_id").cast("long").alias("event_id"),
        F.get_json_object("value", "$.user_id").cast("long").alias("user_id"),
        F.get_json_object("value", "$.value").cast("double").alias("value"),
        F.timestamp_millis(
            F.get_json_object("value", "$.ts_ms").cast("long")
        ).alias("ts"),
    )
    return parsed


def test_streaming_dedup_keeps_first(spark, tmp_path, event_frames):
    from ws_to_kafka_spark.streaming.ops import streaming_dedup

    # duplicate every frame — dedup on event_id must halve it
    server = RecordingWsServer(
        frames_per_connection=[f for fr in event_frames for f in (fr, fr)]
    )
    stream = streaming_dedup(
        _typed_stream(spark, server.url), keys=["event_id"], watermark="1 hour"
    )
    query = (
        stream.writeStream.format("memory")
        .queryName("dedup_test")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        assert wait_until(
            lambda: spark.sql("SELECT COUNT(*) c FROM dedup_test").first().c >= 12,
            timeout=60,
        )
        time.sleep(2)  # allow any (wrong) extra rows to surface
        ids = [r.event_id for r in spark.sql("SELECT event_id FROM dedup_test").collect()]
        assert sorted(ids) == list(range(12)), "duplicates leaked through"
        # the streaming width is the core count capped at the batch width
        widths = {
            op["numShufflePartitions"]
            for p in query.recentProgress
            for op in p["stateOperators"]
        }
        assert widths == {min(spark.sparkContext.defaultParallelism, 4)}
    finally:
        query.stop()
        server.close()


def test_stream_stream_join(spark, tmp_path):
    from pyspark.sql import functions as F
    from ws_to_kafka_spark.streaming.ops import stream_stream_join

    # user 1: signup at t0, purchase 30 min later (joins); user 2:
    # purchase 2 h after signup (outside the 1 h window — must not join).
    base = 1704067200000
    mk = lambda i, u, ty, off_min: json.dumps(
        {"event_id": i, "user_id": u, "value": 1.0, "ts_ms": base + off_min * 60000, "event_type": ty}
    ).encode()
    frames = [
        mk(1, 1, "signup", 0),
        mk(2, 1, "purchase", 30),
        mk(3, 2, "signup", 0),
        mk(4, 2, "purchase", 120),
    ]
    server = RecordingWsServer(frames_per_connection=frames)
    # _typed_stream doesn't parse event_type — parse the fields needed here
    from ws_to_kafka_spark.sources.websocket import register_websocket_source

    register_websocket_source(spark)
    raw = spark.readStream.format("websocket").option("url", server.url).load()
    raw = raw.withColumn("value", raw.value.cast("string"))
    parsed = raw.select(
        F.get_json_object("value", "$.event_id").cast("long").alias("event_id"),
        F.get_json_object("value", "$.user_id").cast("long").alias("user_id"),
        F.get_json_object("value", "$.event_type").alias("event_type"),
        F.timestamp_millis(
            F.get_json_object("value", "$.ts_ms").cast("long")
        ).alias("ts"),
    )
    joined = stream_stream_join(
        parsed.filter(F.col("event_type") == "purchase"),
        parsed.filter(F.col("event_type") == "signup"),
    )
    query = (
        joined.writeStream.format("memory")
        .queryName("ssj_test")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        assert wait_until(
            lambda: spark.sql("SELECT COUNT(*) c FROM ssj_test").first().c >= 1,
            timeout=60,
        ), "stream-stream join produced nothing"
        time.sleep(3)
        rows = spark.sql("SELECT * FROM ssj_test").collect()
        assert {(r.purchase_id, r.signup_id) for r in rows} == {(2, 1)}, (
            "only user 1's in-window pair should join"
        )
    finally:
        query.stop()
        server.close()


def test_stream_stream_left_outer_join(spark, tmp_path):
    """Left-outer stream-stream join: user 3's purchase has no signup
    anywhere — its NULL row may only emit after the watermark passes the
    point where a matching signup could still arrive, so the stream
    advances event time far past it with a late sentinel pair and the
    test asserts the unmatched purchase eventually surfaces with NULL
    signup columns."""
    from pyspark.sql import functions as F
    from ws_to_kafka_spark.streaming.ops import stream_stream_join
    from ws_to_kafka_spark.sources.websocket import register_websocket_source

    base = 1704067200000
    mk = lambda i, u, ty, off_min: json.dumps(
        {"event_id": i, "user_id": u, "value": 1.0, "ts_ms": base + off_min * 60000, "event_type": ty}
    ).encode()
    frames = [
        mk(1, 1, "signup", 0),
        mk(2, 1, "purchase", 30),   # matches signup 1
        mk(5, 3, "purchase", 30),   # no signup ever -> NULL row
        # sentinel pair 10 h later: advances both watermarks past every
        # earlier purchase's match horizon (and matches itself)
        mk(8, 9, "signup", 600),
        mk(9, 9, "purchase", 600),
    ]
    server = RecordingWsServer(frames_per_connection=frames)
    register_websocket_source(spark)
    raw = spark.readStream.format("websocket").option("url", server.url).load()
    raw = raw.withColumn("value", raw.value.cast("string"))
    parsed = raw.select(
        F.get_json_object("value", "$.event_id").cast("long").alias("event_id"),
        F.get_json_object("value", "$.user_id").cast("long").alias("user_id"),
        F.get_json_object("value", "$.event_type").alias("event_type"),
        F.timestamp_millis(
            F.get_json_object("value", "$.ts_ms").cast("long")
        ).alias("ts"),
    )
    joined = stream_stream_join(
        parsed.filter(F.col("event_type") == "purchase"),
        parsed.filter(F.col("event_type") == "signup"),
        watermark="10 minutes",
        how="left_outer",
    )
    query = (
        joined.writeStream.format("memory")
        .queryName("ssj_outer_test")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        def outer_row_emitted():
            rows = spark.sql("SELECT * FROM ssj_outer_test").collect()
            got = {(r.purchase_id, r.signup_id) for r in rows}
            return got == {(2, 1), (9, 8), (5, None)}

        assert wait_until(outer_row_emitted, timeout=90), (
            "unmatched purchase never emitted its NULL row: "
            + str(spark.sql("SELECT * FROM ssj_outer_test").collect())
        )
    finally:
        query.stop()
        server.close()


def test_stateful_running_max(spark, tmp_path, event_frames):
    from ws_to_kafka_spark.streaming.ops import stateful_running_max

    server = RecordingWsServer(frames_per_connection=event_frames)
    stream = stateful_running_max(_typed_stream(spark, server.url))
    query = (
        stream.writeStream.format("memory")
        .queryName("stateful_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        # final per-user state must match the batch aggregate: users 0,1,2
        # each see 4 events; max value = largest event_id in their residue
        def final_state_ok():
            rows = spark.sql(
                "SELECT user_id, MAX(n_events) n, MAX(max_value) m "
                "FROM stateful_test GROUP BY user_id"
            ).collect()
            got = {r.user_id: (r.n, r.m) for r in rows}
            return got == {0: (4, 9.0), 1: (4, 10.0), 2: (4, 11.0)}

        assert wait_until(final_state_ok, timeout=60), "stateful agg never converged"
    finally:
        query.stop()
        server.close()


def test_stateful_sessionize_counts_gap_sessions(spark, tmp_path, event_frames):
    """Gap-based streaming sessionization: with a 120 s gap and the
    fixture's 180 s per-user spacing, EVERY consecutive pair breaks —
    4 sessions of 1 event per user; with a 300 s gap none break — 1
    session of 4. Final per-key state must equal the lag-scan batch rule
    (the q_stream_session twin's semantics) in both regimes."""
    from ws_to_kafka_spark.streaming.ops import stateful_sessionize

    for gap_s, want_sessions in ((120, 4), (300, 1)):
        server = RecordingWsServer(frames_per_connection=event_frames)
        stream = stateful_sessionize(
            _typed_stream(spark, server.url), gap_us=gap_s * 1_000_000
        )
        qname = f"sessionize_{gap_s}"
        query = (
            stream.writeStream.format("memory")
            .queryName(qname)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / f"ckpt{gap_s}"))
            .start()
        )
        try:
            def final_state_ok():
                rows = spark.sql(
                    f"SELECT user_id, MAX(n_events) n, MAX(n_sessions) s "
                    f"FROM {qname} GROUP BY user_id"
                ).collect()
                got = {r.user_id: (r.n, r.s) for r in rows}
                return got == {u: (4, want_sessions) for u in (0, 1, 2)}

            assert wait_until(final_state_ok, timeout=60), (
                f"sessionize gap={gap_s}s never converged"
            )
        finally:
            query.stop()
            server.close()


def test_stateful_sessionize_null_ts_is_not_a_break(spark, tmp_path):
    """NULL event-time must follow the batch twin's rule (q_stream_session
    oracle): NULLS FIRST, the event COUNTS, and a NULL gap never breaks a
    session. Two NULL-ts events then two timed events 180 s apart with a
    120 s gap -> 4 events, 2 sessions (the first event opens session 1;
    the only break is the 180 s gap). The pre-fix code fed NaT.value
    (int64 min) into last_us and opened a session per subsequent event,
    which would report 3 here."""
    from ws_to_kafka_spark.streaming.ops import stateful_sessionize

    base_ms = 1704067200000
    frames = [
        json.dumps({"event_id": 0, "user_id": 0, "value": 1.0}).encode(),
        json.dumps({"event_id": 1, "user_id": 0, "value": 2.0}).encode(),
        json.dumps(
            {"event_id": 2, "user_id": 0, "value": 3.0, "ts_ms": base_ms}
        ).encode(),
        json.dumps(
            {
                "event_id": 3,
                "user_id": 0,
                "value": 4.0,
                "ts_ms": base_ms + 180_000,
            }
        ).encode(),
    ]
    server = RecordingWsServer(frames_per_connection=frames)
    stream = stateful_sessionize(
        _typed_stream(spark, server.url), gap_us=120 * 1_000_000
    )
    query = (
        stream.writeStream.format("memory")
        .queryName("sessionize_nullts")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_nullts"))
        .start()
    )
    try:
        def final_state_ok():
            rows = spark.sql(
                "SELECT user_id, MAX(n_events) n, MAX(n_sessions) s "
                "FROM sessionize_nullts GROUP BY user_id"
            ).collect()
            got = {r.user_id: (r.n, r.s) for r in rows}
            return got == {0: (4, 2)}

        assert wait_until(final_state_ok, timeout=60), (
            "NULL-ts sessionize never converged to the batch rule: "
            + str(spark.sql("SELECT * FROM sessionize_nullts").collect())
        )
    finally:
        query.stop()
        server.close()


def test_stateful_zscore_flags_spike(spark, tmp_path):
    """Welford anomaly operator end-to-end: user 0 sends six calm values
    then a spike (z >> 3 against the prior stats) -> exactly one anomaly;
    user 1 sends a constant series (prior std == 0) -> the zero-std guard
    must suppress every flag."""
    from ws_to_kafka_spark.streaming.ops import stateful_zscore

    calm = [10.0, 10.1, 9.9, 10.05, 9.95, 10.02, 50.0]
    frames = [
        json.dumps(
            {
                "event_id": i * 2 + u,
                "user_id": u,
                "value": (calm[i] if u == 0 else 5.0),
                "ts_ms": 1704067200000 + i * 60000,
            }
        ).encode()
        for i in range(7)
        for u in (0, 1)
    ]
    server = RecordingWsServer(frames_per_connection=frames)
    stream = stateful_zscore(_typed_stream(spark, server.url))
    query = (
        stream.writeStream.format("memory")
        .queryName("zscore_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        def final_state_ok():
            rows = spark.sql(
                "SELECT user_id, MAX(n_events) n, MAX(n_anomalies) a "
                "FROM zscore_test GROUP BY user_id"
            ).collect()
            got = {r.user_id: (r.n, r.a) for r in rows}
            return got == {0: (7, 1), 1: (7, 0)}

        assert wait_until(final_state_ok, timeout=60), "zscore never converged"
    finally:
        query.stop()
        server.close()


def test_transform_with_state_user_totals(spark, tmp_path, event_frames):
    """The Spark-4 arbitrary-state API (transformWithStateInPandas with a
    typed ValueState) must converge to the batch aggregate per user.

    The transformWithState Python worker protocol needs
    ``google.protobuf``, which this container does not ship — conftest
    activates the vendored minimal wire-format runtime
    (vendor/protostub) before the session starts, so this exercises the
    REAL protocol end-to-end: driver plan build, the JVM-spawned driver
    initializer, and the per-task state-server round-trips all run on
    the stub's codec. The batch twin ``q_stream_user_totals`` stays
    oracle-checked regardless.
    """
    from google.protobuf import descriptor  # noqa: F401  (stub or real)
    from ws_to_kafka_spark.streaming.ops import stateful_user_totals

    # transformWithState keeps each state variable in its own column
    # family — only the RocksDB provider supports that (the HDFS-backed
    # default raises STATE_STORE_MULTIPLE_COLUMN_FAMILIES). Session conf
    # is read at query start; restore the default for the other tests.
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old_provider = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    server = RecordingWsServer(frames_per_connection=event_frames)
    stream = stateful_user_totals(_typed_stream(spark, server.url))
    query = (
        stream.writeStream.format("memory")
        .queryName("tws_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        # users 0/1/2 each see 4 events with value=float(event_id):
        # totals 0+3+6+9, 1+4+7+10, 2+5+8+11
        def final_state_ok():
            rows = spark.sql(
                "SELECT user_id, MAX(n_events) n, MAX(total_value) t "
                "FROM tws_test GROUP BY user_id"
            ).collect()
            got = {r.user_id: (r.n, r.t) for r in rows}
            return got == {0: (4, 18.0), 1: (4, 22.0), 2: (4, 26.0)}

        assert wait_until(final_state_ok, timeout=60), "tws agg never converged"
    finally:
        query.stop()
        server.close()
        if old_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old_provider)


def test_stateful_session_timeout_timer_closes_idle_key(spark, tmp_path):
    """Timer half of the arbitrary-state API: user 0 sends 3 events and
    goes idle; once the processing-time timeout passes, the next
    microbatch (triggered here by pushing keep-alive events for user 1 —
    the engine contract is that an idle source produces no batch, so
    timers fire on batch boundaries) must fire user 0's timer, emit the
    session-closed record with the accumulated count, and evict the
    state. User 1 keeps receiving events inside the timeout, so its
    session must NOT close."""
    from google.protobuf import descriptor  # noqa: F401  (stub or real)
    from ws_to_kafka_spark.streaming.ops import stateful_session_timeout

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old_provider = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    frames = [
        json.dumps({"event_id": i, "user_id": 0, "value": 1.0}).encode()
        for i in range(3)
    ]
    server = RecordingWsServer(frames_per_connection=frames)
    stream = stateful_session_timeout(
        _typed_stream(spark, server.url), timeout_ms=2_000
    )
    query = (
        stream.writeStream.format("memory")
        .queryName("session_timeout_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_timer"))
        .start()
    )
    next_id = [100]
    try:
        def closed_row_emitted():
            # keep-alive: user 1 events force new microbatches whose
            # batch timestamps eventually pass user 0's deadline
            server.push_frame(
                json.dumps(
                    {"event_id": next_id[0], "user_id": 1, "value": 2.0}
                ).encode()
            )
            next_id[0] += 1
            time.sleep(1)
            rows = spark.sql(
                "SELECT user_id, n_events FROM session_timeout_test"
            ).collect()
            return {(r.user_id, r.n_events) for r in rows} == {(0, 3)}

        assert wait_until(closed_row_emitted, timeout=90), (
            "idle session never closed: "
            + str(spark.sql("SELECT * FROM session_timeout_test").collect())
        )
        # user 1 stayed active throughout -> still open, no closed row
        active = spark.sql(
            "SELECT COUNT(*) c FROM session_timeout_test WHERE user_id = 1"
        ).first().c
        assert active == 0, "active session closed spuriously"
    finally:
        query.stop()
        server.close()
        if old_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old_provider)


def test_stateful_recent_values_liststate(spark, tmp_path):
    """ListState third of the arbitrary-state API: user 0 streams values
    1..5 with k=3 — the final state must retain exactly the newest 3
    (mean (3+4+5)/3 = 4.0) regardless of how the frames split into
    microbatches; user 1 streams a constant 2.0 (mean 2.0). List-state
    get() exercises the protobuf stub's repeated-bytes responses live."""
    from google.protobuf import descriptor  # noqa: F401  (stub or real)
    from ws_to_kafka_spark.streaming.ops import stateful_recent_values

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old_provider = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    base_ms = 1704067200000
    frames = [
        json.dumps(
            {
                "event_id": i * 2 + u,
                "user_id": u,
                "value": (float(i + 1) if u == 0 else 2.0),
                "ts_ms": base_ms + i * 60000,
            }
        ).encode()
        for i in range(5)
        for u in (0, 1)
    ]
    server = RecordingWsServer(frames_per_connection=frames)
    stream = stateful_recent_values(
        _typed_stream(spark, server.url), k=3
    )
    query = (
        stream.writeStream.format("memory")
        .queryName("recentk_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_recentk"))
        .start()
    )
    try:
        def final_state_ok():
            rows = spark.sql(
                "SELECT user_id, n_recent, recent_mean "
                "FROM recentk_test WHERE n_seen = 5"
            ).collect()
            got = {r.user_id: (r.n_recent, r.recent_mean) for r in rows}
            return got == {0: (3, 4.0), 1: (3, 2.0)}

        assert wait_until(final_state_ok, timeout=60), (
            "recent-k never converged: "
            + str(spark.sql("SELECT * FROM recentk_test").collect())
        )
    finally:
        query.stop()
        server.close()
        if old_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old_provider)


def test_stateful_type_profile_mapstate(spark, tmp_path):
    """MapState quarter of the arbitrary-state API: user 0 streams
    view x3, click x2, purchase x1 — the final profile map must hold
    exactly those per-type counts (serialized sorted, so the assertion
    is order-stable); user 1 streams view x6 -> a single-entry map. The
    map iterator drives the protobuf stub's KeyAndValuePair parsing."""
    from pyspark.sql import functions as F
    from google.protobuf import descriptor  # noqa: F401  (stub or real)
    from ws_to_kafka_spark.sources.websocket import register_websocket_source
    from ws_to_kafka_spark.streaming.ops import stateful_type_profile

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old_provider = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    types0 = ["view", "view", "click", "purchase", "view", "click"]
    frames = [
        json.dumps(
            {
                "event_id": i * 2 + u,
                "user_id": u,
                "event_type": (types0[i] if u == 0 else "view"),
            }
        ).encode()
        for i in range(6)
        for u in (0, 1)
    ]
    server = RecordingWsServer(frames_per_connection=frames)
    register_websocket_source(spark)
    raw = spark.readStream.format("websocket").option("url", server.url).load()
    raw = raw.withColumn("value", raw.value.cast("string"))
    parsed = raw.select(
        F.get_json_object("value", "$.event_id").cast("long").alias("event_id"),
        F.get_json_object("value", "$.user_id").cast("long").alias("user_id"),
        F.get_json_object("value", "$.event_type").alias("event_type"),
    )
    stream = stateful_type_profile(parsed)
    query = (
        stream.writeStream.format("memory")
        .queryName("typeprofile_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_mapstate"))
        .start()
    )
    try:
        def final_state_ok():
            rows = spark.sql(
                "SELECT user_id, profile FROM typeprofile_test "
                "WHERE n_events = 6"
            ).collect()
            got = {r.user_id: r.profile for r in rows}
            return got == {
                0: "click:2,purchase:1,view:3",
                1: "view:6",
            }

        assert wait_until(final_state_ok, timeout=60), (
            "type profile never converged: "
            + str(spark.sql("SELECT * FROM typeprofile_test").collect())
        )
    finally:
        query.stop()
        server.close()
        if old_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old_provider)


def test_stream_static_enrich(spark, tmp_path, sf_dir):
    """Streaming events joined to the static customer dim stay a broadcast
    join per micro-batch and carry the right dimension attributes."""
    from pyspark.sql import functions as F
    from ws_to_kafka_spark import tables
    from ws_to_kafka_spark.sources.websocket import register_websocket_source
    from ws_to_kafka_spark.streaming.ops import stream_static_enrich

    base = 1704067200000
    mk = lambda i, u: json.dumps(
        {"event_id": i, "user_id": u, "value": 2.5, "ts_ms": base + i * 60000}
    ).encode()
    frames = [mk(1, 1), mk(2, 2), mk(3, 1)]
    server = RecordingWsServer(frames_per_connection=frames)
    register_websocket_source(spark)
    raw = spark.readStream.format("websocket").option("url", server.url).load()
    raw = raw.withColumn("value", raw.value.cast("string"))
    parsed = raw.select(
        F.get_json_object("value", "$.event_id").cast("long").alias("event_id"),
        F.get_json_object("value", "$.user_id").cast("long").alias("user_id"),
        F.get_json_object("value", "$.value").cast("double").alias("value"),
    )
    dim = tables.load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    expected = {
        r.c_custkey: r.c_mktsegment
        for r in dim.filter(F.col("c_custkey").isin(1, 2)).collect()
    }
    enriched = stream_static_enrich(parsed, dim)
    query = (
        enriched.writeStream.format("memory")
        .queryName("enrich_test")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        assert wait_until(
            lambda: spark.sql("SELECT COUNT(*) c FROM enrich_test").first().c >= 3,
            timeout=60,
        ), "stream-static enrich produced fewer rows than expected"
        rows = spark.sql("SELECT * FROM enrich_test").collect()
        assert {(r.event_id, r.c_mktsegment) for r in rows} >= {
            (1, expected[1]),
            (2, expected[2]),
            (3, expected[1]),
        }
    finally:
        query.stop()
        server.close()


def test_streaming_session_window(spark, tmp_path, event_frames):
    """Live sessionization over the WebSocket source: 12 events, users 0/1/2
    round-robin at 1-minute spacing — one open session per user whose
    aggregate (complete mode re-emits the full result per trigger) must
    eventually show all 4 events."""
    from ws_to_kafka_spark.streaming.ops import streaming_session_counts

    server = RecordingWsServer(frames_per_connection=event_frames)
    stream = streaming_session_counts(
        _typed_stream(spark, server.url), gap="10 minutes", watermark="1 hour"
    )
    query = (
        stream.writeStream.format("memory")
        .queryName("session_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        def complete():
            rows = spark.sql(
                "SELECT user_id, MAX(n_events) n FROM session_test GROUP BY user_id"
            ).collect()
            return len(rows) == 3 and all(r.n == 4 for r in rows)

        assert wait_until(complete, timeout=60), "sessions never reached 4 events/user"
        row = spark.sql(
            "SELECT session_start, session_end FROM session_test "
            "WHERE user_id = 0 AND n_events = 4"
        ).collect()[0]
        # user 0: events at minutes 0,3,6,9 -> [start, last+gap)
        assert (row.session_end - row.session_start).total_seconds() == 9 * 60 + 600
    finally:
        query.stop()
        server.close()


def test_stateful_ewma_matches_recursion(spark, tmp_path):
    """Streaming EWMA converges to the literal recursion per user — the
    same semantics the batch twin q_ts_ewma pins against DuckDB, here
    carried as O(1) ValueState across microbatches (the production form
    for unbounded histories, where the batch closed form's scaling
    factor would overflow)."""
    from ws_to_kafka_spark.streaming.ops import stateful_ewma

    series = {0: [10.0, 20.0, 30.0, 40.0], 1: [5.0, 5.0, 5.0, 5.0]}
    frames = [
        json.dumps(
            {
                "event_id": i * 2 + u,
                "user_id": u,
                "value": series[u][i],
                "ts_ms": 1704067200000 + i * 60000,
            }
        ).encode()
        for i in range(4)
        for u in (0, 1)
    ]

    def ewma(xs, a=0.5):
        y = xs[0]
        for x in xs[1:]:
            y = (1 - a) * y + a * x
        return round(y, 4)

    want = {u: (len(xs), ewma(xs)) for u, xs in series.items()}

    server = RecordingWsServer(frames_per_connection=frames)
    stream = stateful_ewma(_typed_stream(spark, server.url))
    query = (
        stream.writeStream.format("memory")
        .queryName("ewma_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        def final_state_ok():
            rows = spark.sql(
                "SELECT user_id, MAX(n_events) n, MAX(ewma) y "
                "FROM ewma_test GROUP BY user_id"
            ).collect()
            got = {r.user_id: (r.n, r.y) for r in rows}
            return got == want

        assert wait_until(final_state_ok, timeout=60), "ewma never converged"
    finally:
        query.stop()
        server.close()


def test_max_records_per_batch_caps_microbatches(spark, tmp_path):
    """Admission control on the source (the maxOffsetsPerTrigger analog):
    with a 5-row cap and 12 buffered frames, the stream must drain as
    several bounded batches — every batch at most 5 input rows — and
    still deliver every frame exactly once in order of arrival."""
    from ws_to_kafka_spark.sources.websocket import register_websocket_source

    frames = [f"frame-{i:02d}".encode() for i in range(12)]
    server = RecordingWsServer(frames_per_connection=frames)
    register_websocket_source(spark)
    stream = (
        spark.readStream.format("websocket")
        .option("url", server.url)
        .option("max_records_per_batch", "5")
        .load()
    )
    query = (
        stream.writeStream.format("memory")
        .queryName("capped_batches")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if (
                spark.sql("SELECT COUNT(*) c FROM capped_batches").first().c
                >= len(frames)
            ):
                break
            time.sleep(0.2)
        rows = spark.sql(
            "SELECT value FROM capped_batches"
        ).collect()
        assert sorted(bytes(r.value) for r in rows) == sorted(frames)
        assert len(rows) == len(frames), "duplicate or lost frames under cap"
        sizes = [
            p["numInputRows"]
            for p in query.recentProgress
            if p["numInputRows"] > 0
        ]
        assert sizes and max(sizes) <= 5, sizes
        assert len(sizes) >= 3, f"expected several bounded batches, got {sizes}"
    finally:
        query.stop()
        server.close()


# ---------------------------------------------------------------------------
# Multi-connection source: N sockets -> N input partitions
# ---------------------------------------------------------------------------

def test_websocket_multi_two_feeds_land_in_order(spark, tmp_path):
    """Two independent ws servers through one `websocket_multi` stream:
    every frame from BOTH feeds must land tagged with its feed_id, each
    feed's frames must arrive in per-feed connection order, and every
    batch — both feeds together — must arrive as the ONE input
    partition the driver's source runner prefetched (subprocess decode,
    packed batches unpacked on the driver, no executor Python task)."""
    import json as _json

    from pyspark.sql import functions as F

    from ws_to_kafka_spark.sources.websocket import (
        register_websocket_multi_source,
    )

    frames_a = [f"a-{i:02d}".encode() for i in range(8)]
    frames_b = [f"b-{i:02d}".encode() for i in range(8)]
    server_a = RecordingWsServer(frames_per_connection=frames_a)
    server_b = RecordingWsServer(frames_per_connection=frames_b)
    register_websocket_multi_source(spark)
    stream = (
        spark.readStream.format("websocket_multi")
        .option("urls", _json.dumps([server_a.url, server_b.url]))
        # cap admission to 2 frames/feed/batch so each feed spans >=4
        # batches: without it, process-mode child-spawn stagger under
        # suite load can drain one feed entirely before the other's
        # first frame, leaving NO batch with both feeds — and the
        # partition-isolation assertion below needs one (full-suite
        # flake, round 10)
        .option("max_records_per_batch", "2")
        .load()
    )
    seen: list[tuple[int, int, bytes, int]] = []  # (batch, feed, value, part)

    def sink(df, batch_id):
        for r in df.select(
            "feed_id", "value", F.spark_partition_id().alias("part")
        ).collect():
            seen.append((batch_id, r.feed_id, bytes(r.value), r.part))

    query = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        assert wait_until(lambda: len(seen) >= 16, timeout=60)
        time.sleep(1)  # allow any (wrong) extra rows to surface
    finally:
        query.stop()
        server_a.close()
        server_b.close()

    # rows were appended in (batch asc, partition-iterator) order, which
    # preserves each feed's slice order within and across batches
    by_feed: dict[int, list[bytes]] = {0: [], 1: []}
    for _batch, feed, value, _part in seen:
        by_feed[feed].append(value)
    assert by_feed[0] == frames_a, "feed 0 lost frames or broke order"
    assert by_feed[1] == frames_b, "feed 1 lost frames or broke order"
    # one prefetched partition: every row of a batch, whatever its
    # feed, sits in the batch's single input partition, and at least
    # one batch carried both feeds
    parts: dict[int, set[int]] = {}
    feeds: dict[int, set[int]] = {}
    for batch, feed, _value, part in seen:
        parts.setdefault(batch, set()).add(part)
        feeds.setdefault(batch, set()).add(feed)
    assert all(p == {0} for p in parts.values()), parts
    assert any(f == {0, 1} for f in feeds.values()), (
        "no batch carried both feeds"
    )


def test_websocket_multi_fan_out_single_url(spark, tmp_path):
    """`fan_out` N over one url: N independent connections to the same
    endpoint (the subscription-sharding shape). The recording server
    plays its frame script to EACH connection, so N=2 must deliver every
    frame twice — once per feed_id."""
    from ws_to_kafka_spark.sources.websocket import (
        register_websocket_multi_source,
    )

    frames = [f"f-{i}".encode() for i in range(5)]
    server = RecordingWsServer(frames_per_connection=frames)
    register_websocket_multi_source(spark)
    stream = (
        spark.readStream.format("websocket_multi")
        .option("url", server.url)
        .option("fan_out", "2")
        .load()
    )
    query = (
        stream.writeStream.format("memory")
        .queryName("multi_fanout")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        assert wait_until(
            lambda: spark.sql("SELECT COUNT(*) c FROM multi_fanout").first().c
            >= 10,
            timeout=60,
        )
        rows = spark.sql("SELECT feed_id, value FROM multi_fanout").collect()
    finally:
        query.stop()
        server.close()
    got: dict[int, list[bytes]] = {}
    for r in rows:
        got.setdefault(r.feed_id, []).append(bytes(r.value))
    assert set(got) == {0, 1}
    assert got[0] == frames and got[1] == frames


def test_websocket_multi_admission_cap_drains(spark, tmp_path):
    """Regression pin for the round-9 admission-cap deadlock: the engine
    only delivers commit(end_N) while planning batch N+2, so a per-feed
    cap anchored at the COMMITTED (pruned) frontier froze latestOffset at
    one cap window — after the first capped batch, latestOffset == last
    end ⇒ no new batch ⇒ no commit ⇒ no progress, measured live as
    2500/20000 frames then a 300 s stall. The fix anchors the window at the PLANNED frontier
    (maxOffsetsPerTrigger semantics). This test drains 6+ cap windows per
    feed: it deadlocks at 40 rows on the broken anchoring."""
    import json as _json

    from ws_to_kafka_spark.sources.websocket import (
        register_websocket_multi_source,
    )

    per = 120
    frames_a = [f"a-{i:03d}".encode() for i in range(per)]
    frames_b = [f"b-{i:03d}".encode() for i in range(per)]
    server_a = RecordingWsServer(frames_per_connection=frames_a)
    server_b = RecordingWsServer(frames_per_connection=frames_b)
    register_websocket_multi_source(spark)
    stream = (
        spark.readStream.format("websocket_multi")
        .option("urls", _json.dumps([server_a.url, server_b.url]))
        .option("max_records_per_batch", "20")
        .load()
    )
    query = (
        stream.writeStream.format("memory")
        .queryName("multi_capped")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        assert wait_until(
            lambda: spark.sql("SELECT COUNT(*) c FROM multi_capped").first().c
            >= 2 * per,
            timeout=90,
        ), "capped multi stream stalled before draining all frames"
        # the cap actually bounded every batch (no drain-in-one-batch):
        # every non-empty progress entry admitted <= cap rows per feed
        for p in query.recentProgress:
            assert p["numInputRows"] <= 2 * 20
        rows = spark.sql("SELECT feed_id, value FROM multi_capped").collect()
    finally:
        query.stop()
        server_a.close()
        server_b.close()
    got: dict[int, list[bytes]] = {}
    for r in rows:
        got.setdefault(r.feed_id, []).append(bytes(r.value))
    assert got[0] == frames_a and got[1] == frames_b


def test_websocket_multi_child_process_crash_respawns(spark, tmp_path):
    """Process-mode resilience (round 10): SIGKILL the feed's child
    decoder mid-stream — the pump must respawn it (the reference's
    persistent-feed contract, wsclient.hpp:132-168 redial semantics,
    now at process granularity), the fresh connection must re-receive
    the server's frames, and frame NUMBERING must continue (no offset
    regression for the engine). Two feeds (``fan_out`` 2): one feed is
    read in-process and has no child."""
    from ws_to_kafka_spark.sources.websocket import (
        register_websocket_multi_source,
    )

    frames = [f"r-{i:02d}".encode() for i in range(6)]
    server = RecordingWsServer(frames_per_connection=frames)
    register_websocket_multi_source(spark)
    stream = (
        spark.readStream.format("websocket_multi")
        .option("url", server.url)
        .option("fan_out", "2")
        .option("reconnect_delay", "0.3")
        .load()
    )
    query = (
        stream.writeStream.format("memory")
        .queryName("multi_crash")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        assert wait_until(
            lambda: spark.sql("SELECT COUNT(*) c FROM multi_crash").first().c
            >= 2 * len(frames),
            timeout=60,
        )
        # the reader lives in Spark's python-source worker process, so
        # locate its child decoder by cmdline (never pkill -f: the
        # pattern must not match this test's own process) and kill it
        import os
        import signal

        def _is_descendant(pid: int, ancestor: int) -> bool:
            # walk the ppid chain so a PARALLEL session's feed children
            # are never touched (ADVICE r10: a machine-wide cmdline
            # match would SIGKILL another test run's or a concurrent
            # bench's decoders)
            while pid > 1:
                try:
                    with open(f"/proc/{pid}/stat", "rb") as fh:
                        # field 4 is ppid; comm (field 2) may contain
                        # spaces but is parenthesized — split after ')'
                        pid = int(fh.read().rsplit(b")", 1)[1].split()[1])
                except OSError:
                    return False
                if pid == ancestor:
                    return True
            return False

        me = os.getpid()

        def _feed_proc_pids() -> set[int]:
            pids = set()
            for entry in os.listdir("/proc"):
                if not entry.isdigit():
                    continue
                try:
                    with open(f"/proc/{entry}/cmdline", "rb") as fh:
                        argv = fh.read().split(b"\0")
                except OSError:
                    continue
                if (
                    b"ws_to_kafka_spark.sources.feed_proc" in argv
                    and _is_descendant(int(entry), me)
                ):
                    pids.add(int(entry))
            return pids

        before = _feed_proc_pids()
        assert before, "no feed_proc child found — process mode not active"
        for pid in before:
            os.kill(pid, signal.SIGKILL)
        # a respawned child re-dials; the server feeds every connection
        # the same frames, so the count doubles — with CONTINUED indexes
        assert wait_until(
            lambda: spark.sql("SELECT COUNT(*) c FROM multi_crash").first().c
            >= 4 * len(frames),
            timeout=60,
        ), "child did not respawn after SIGKILL"
        after = _feed_proc_pids()
        assert after and not (after & before), "child pid did not change"
    finally:
        query.stop()
        server.close()
    by_feed: dict[int, list[bytes]] = {}
    for r in spark.sql("SELECT feed_id, value FROM multi_crash").collect():
        by_feed.setdefault(r.feed_id, []).append(bytes(r.value))
    assert set(by_feed) == {0, 1}
    for vals in by_feed.values():
        assert vals[: len(frames)] == frames
        assert vals[len(frames): 2 * len(frames)] == frames


def test_websocket_multi_no_child_leak_after_stop(spark, tmp_path):
    """Process-lifecycle pin (round 10): stopping the query must leave
    ZERO feed_proc children behind — the first bench integration leaked
    one child per run (the pump's pipe kept it alive and the redial
    loop never exits on its own); stop() now reaps with a kill
    fallback, the pump reaps its own last spawn, and PR_SET_PDEATHSIG
    covers a crashed driver. Two feeds (``fan_out`` 2): one feed is read
    in-process and has no child."""
    import os

    from ws_to_kafka_spark.sources.websocket import (
        register_websocket_multi_source,
    )

    def _is_descendant(pid: int, ancestor: int) -> bool:
        # session-scoped (ADVICE r10): a concurrent session's live feed
        # children must not fail THIS session's leak assertion
        while pid > 1:
            try:
                with open(f"/proc/{pid}/stat", "rb") as fh:
                    pid = int(fh.read().rsplit(b")", 1)[1].split()[1])
            except OSError:
                return False
            if pid == ancestor:
                return True
        return False

    me = os.getpid()

    def feed_proc_pids() -> set[int]:
        pids = set()
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/cmdline", "rb") as fh:
                    argv = fh.read()
            except OSError:
                continue
            if (
                b"ws_to_kafka_spark.sources.feed_proc" in argv
                and _is_descendant(int(entry), me)
            ):
                pids.add(int(entry))
        return pids

    frames = [f"l-{i}".encode() for i in range(4)]
    server = RecordingWsServer(frames_per_connection=frames)
    register_websocket_multi_source(spark)
    query = (
        spark.readStream.format("websocket_multi")
        .option("url", server.url)
        .option("fan_out", "2")
        .load()
        .writeStream.format("memory")
        .queryName("multi_leak")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        assert wait_until(
            lambda: spark.sql("SELECT COUNT(*) c FROM multi_leak").first().c
            >= 2 * len(frames),
            timeout=60,
        )
        assert feed_proc_pids(), "process mode did not spawn a child"
    finally:
        query.stop()
        server.close()
    assert wait_until(lambda: not feed_proc_pids(), timeout=15), (
        f"feed_proc children leaked after stop: {feed_proc_pids()}"
    )


def test_transform_with_state_checkpoint_restart(spark, tmp_path):
    """State-store recovery — the untested half of O12's Spark upgrade
    ("strictly stronger: resumable", SURVEY §2.1; round-8 VERDICT item 5):
    a transformWithStateInPandas query is stopped mid-stream and
    restarted from its checkpoint with the RocksDB provider; the
    restarted query's ValueState must RESUME (second-phase events
    accumulate onto first-phase totals), ending exactly at the batch-twin
    totals over the union of both phases."""
    from ws_to_kafka_spark.streaming.ops import stateful_user_totals

    mk = lambda i, u, v: json.dumps(
        {"event_id": i, "user_id": u, "value": v,
         "ts_ms": 1704067200000 + i * 60000}
    ).encode()
    phase_a = [mk(0, 0, 1.0), mk(1, 1, 2.0), mk(2, 0, 3.0)]
    phase_b = [mk(3, 0, 5.0), mk(4, 1, 7.0), mk(5, 1, 11.0)]

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old_provider = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    # no auto-replayed script: every frame is pushed explicitly so the
    # restart cannot double-count (the recording server replays
    # frames_per_connection to EACH connection)
    server = RecordingWsServer(frames_per_connection=[])
    ckpt = str(tmp_path / "ckpt")
    # the memory sink refuses checkpoint recovery — accumulate update-mode
    # snapshots via foreachBatch instead (latest emit per user wins)
    latest: dict = {}

    def sink(df, _batch_id):
        for r in df.collect():
            latest[r.user_id] = (r.n_events, r.total_value)

    try:
        stream = stateful_user_totals(_typed_stream(spark, server.url))
        query = (
            stream.writeStream.foreachBatch(sink)
            .queryName("tws_restart_1")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            assert wait_until(lambda: server.connections >= 1, timeout=30)
            for f in phase_a:
                server.push_frame(f)
            assert wait_until(
                lambda: latest == {0: (2, 4.0), 1: (1, 2.0)}, timeout=60
            ), f"phase A never landed: {latest}"
            # the sink runs before the batch commits: a stop in between
            # replays phase A's batch on restart, and the at-most-once
            # source cannot serve a replay, which is not what this tests
            query.processAllAvailable()
        finally:
            query.stop()

        # restart from the same checkpoint: ValueState must come back
        query2 = (
            stateful_user_totals(_typed_stream(spark, server.url))
            .writeStream.foreachBatch(sink)
            .queryName("tws_restart_2")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            assert wait_until(lambda: server.connections >= 2, timeout=30)
            for f in phase_b:
                server.push_frame(f)
            # batch-twin totals over phase_a + phase_b
            assert wait_until(
                lambda: latest == {0: (3, 9.0), 1: (3, 20.0)}, timeout=60
            ), f"restarted query lost or reset its ValueState: {latest}"
        finally:
            query2.stop()
    finally:
        server.close()
        if old_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old_provider)


def test_streaming_dedup_checkpoint_restart(spark, tmp_path):
    """State-store recovery on the default (HDFS-backed) provider: a
    ``streaming_dedup`` query is stopped and restarted on its
    checkpoint, and duplicates of keys seen before the restart must
    still be dropped, so the restarted query reloaded its dedup state
    from the delta files the first run wrote."""
    from ws_to_kafka_spark.streaming.ops import streaming_dedup

    mk = lambda i: json.dumps(
        {"event_id": i, "user_id": i % 2, "value": float(i),
         "ts_ms": 1704067200000 + i * 60000}
    ).encode()
    # frames are pushed explicitly: the recording server would replay a
    # frames_per_connection script to EACH connection
    server = RecordingWsServer(frames_per_connection=[])
    ckpt = tmp_path / "ckpt"
    # the memory sink refuses checkpoint recovery — collect via foreachBatch
    seen: list[int] = []

    def sink(df, _batch_id):
        seen.extend(r.event_id for r in df.collect())

    def start(name):
        return (
            streaming_dedup(
                _typed_stream(spark, server.url), keys=["event_id"],
                watermark="1 hour",
            )
            .writeStream.foreachBatch(sink)
            .queryName(name)
            .option("checkpointLocation", str(ckpt))
            .start()
        )

    try:
        query = start("dedup_restart_1")
        try:
            assert wait_until(lambda: server.connections >= 1, timeout=30)
            for i in range(4):
                server.push_frame(mk(i))
            assert wait_until(lambda: len(seen) >= 4, timeout=60), seen
            # the sink runs before the batch commits: a stop in between
            # replays the batch on restart, and the at-most-once source
            # cannot serve a replay, which is not what this tests
            query.processAllAvailable()
        finally:
            query.stop()
        assert list((ckpt / "state" / "0").glob("*/*.delta")), (
            "the first run committed no state-store delta files"
        )

        query2 = start("dedup_restart_2")
        try:
            assert wait_until(lambda: server.connections >= 2, timeout=30)
            for i in (0, 1, 2, 3, 4, 5):  # 0-3 were seen before the restart
                server.push_frame(mk(i))
            assert wait_until(lambda: len(seen) >= 6, timeout=60), seen
            time.sleep(2)  # allow any (wrong) extra rows to surface
        finally:
            query2.stop()
        assert sorted(seen) == list(range(6)), (
            f"duplicates from before the restart leaked through: {seen}"
        )
    finally:
        server.close()


_EPOCH_UTC = datetime(1970, 1, 1, tzinfo=timezone.utc)


def _rows_iter(batches, start, end):
    """Reference unpack of the feed_proc wire format, one frame at a time
    with ``struct``: ``(payload, UTC datetime, ts_us)`` for each frame
    numbered in [start, end) of ``[(first_index, n_frames, body), ...]``.
    The datetime comes from integer-exact ``timedelta`` arithmetic."""
    for first, n, body in batches:
        off = 0
        for idx in range(first, first + n):
            ts_us, ln = struct.unpack_from("<QI", body, off)
            off += 12
            if start <= idx < end:
                yield (
                    body[off:off + ln],
                    _EPOCH_UTC + timedelta(microseconds=ts_us),
                    ts_us,
                )
            off += ln


def _unpack(batches, feed_id, start, end):
    from ws_to_kafka_spark.sources.websocket import (
        _BatchRec,
        _unpack_frames,
        _with_feed_id,
    )

    return _with_feed_id(
        _unpack_frames([_BatchRec(*b) for b in batches], start, end), feed_id
    )


def test_feed_blob_slice_micros_exact_round_trip():
    """Exactness pin: websocket_multi's ws_timestamp must be
    bit-exact to the child-recorded integer micros. A float path
    (fromtimestamp(ts_us / 1e6)) has ~0.5 µs ulp at current epochs, so
    odd-microsecond values near 1.7e9 s could come back one µs off;
    ``_unpack_frames`` moves the int64 micros into the Arrow column
    untouched, and the reference walk's integer timedelta cannot drift."""
    import pyarrow as pa

    # sweep precision-critical values: odd micros around the float64
    # 0.5 µs-ulp regime, plus epoch boundaries
    ts_values = [
        1_700_000_000_123_457,  # odd micros at ~1.7e9 s
        1_700_000_000_999_999,
        2_000_000_000_000_001,
        1,
        0,
    ]
    body = b"".join(
        struct.pack("<QI", ts, 1) + b"x" for ts in ts_values
    )
    batches = [(0, len(ts_values), body)]
    ref = [row[1] for row in _rows_iter(batches, 0, len(ts_values))]
    (got,) = _unpack(batches, 0, 0, len(ts_values))
    col = got.column("ws_timestamp")
    assert col.type.tz == "UTC"
    assert col.cast(pa.int64()).to_pylist() == ts_values
    for ts_us, dt, dt_ref in zip(ts_values, col.to_pylist(), ref):
        assert dt.utcoffset() == timedelta(0)
        assert dt == dt_ref == _EPOCH_UTC + timedelta(microseconds=ts_us)
        # and the round-trip back to integer micros is lossless
        assert (
            (dt - _EPOCH_UTC) // timedelta(microseconds=1) == ts_us
        ), ts_us


def test_feed_blob_slice_vectorized_batches_match_rows_iter():
    """Pin: the numpy/from_buffers vectorized ``_unpack_frames``
    (70k -> ~700k frames/s/core in isolation) must stay bit-identical
    to the per-frame reference walk ``_rows_iter`` — values, exact
    integer-micro timestamps, feed_id — including on PARTIAL windows
    (start/end interior to a packed batch), multi-batch windows, and
    batches whose selected range is empty."""
    import pyarrow as pa

    def pack(ts_len_pairs):
        return b"".join(
            struct.pack("<QI", ts, len(p)) + p for ts, p in ts_len_pairs
        )

    frames_a = [
        (1_700_000_000_123_457 + i, bytes([65 + i]) * (1 + (i % 5)))
        for i in range(40)
    ]
    frames_b = [
        (2_000_000_000_000_001 + i, b"y" * (3 + (i % 7))) for i in range(25)
    ]
    batches = [(0, 40, pack(frames_a)), (40, 25, pack(frames_b))]
    all_ts = [ts for ts, _ in frames_a] + [ts for ts, _ in frames_b]
    for start, end in [(0, 65), (7, 52), (40, 65), (0, 40), (41, 41)]:
        ref = list(_rows_iter(batches, start, end))
        got = _unpack(batches, 2, start, end)
        if not ref:
            assert got == []
            continue
        tbl = pa.Table.from_batches(got)
        assert tbl.num_rows == len(ref)
        for (v0, dt0, _), v1, t1, f1, ts_us in zip(
            ref,
            tbl.column("value").to_pylist(),
            tbl.column("ws_timestamp").to_pylist(),
            tbl.column("feed_id").to_pylist(),
            all_ts[start:end],
        ):
            assert v0 == v1 and f1 == 2
            dt1 = t1 if t1.tzinfo else t1.replace(tzinfo=timezone.utc)
            assert dt0 == dt1
            # lossless back to integer micros (the exactness pin):
            # the round-tripped micros must equal the PACKED wire value
            # (the old `.total_seconds() is not None` was vacuous)
            assert (dt1 - _EPOCH_UTC) // timedelta(microseconds=1) == ts_us


def test_feed_blob_slice_offset_bound_enforced(monkeypatch):
    """Bound pin: ``_unpack_frames`` packs payloads behind int32
    Arrow binary offsets; a batch whose SELECTED payload total exceeds
    2 GiB used to silently wrap ``offsets.astype(np.int32)`` into a
    corrupt column. The bound is enforced loudly, before the gather
    index is built. The module bound is injected scaled-down so the
    test runs on bytes, not gigabytes."""
    import numpy as np

    from ws_to_kafka_spark.sources import websocket as ws_mod

    def pack(payloads):
        return b"".join(
            struct.pack("<QI", 1_700_000_000_000_000 + i, len(p)) + p
            for i, p in enumerate(payloads)
        )

    payloads = [b"abc", b"defg", b"hi"]  # selected total = 9 bytes
    batches = [(0, 3, pack(payloads))]
    monkeypatch.setattr(ws_mod, "_BIN_OFFSET_MAX", 8)
    gathers = []
    real_repeat = np.repeat
    monkeypatch.setattr(
        np, "repeat", lambda *a, **k: gathers.append(1) or real_repeat(*a, **k)
    )
    with pytest.raises(ValueError, match="offset bound"):
        _unpack(batches, 0, 0, 3)
    assert not gathers, "the gather index was built before the raise"
    # exactly AT the bound is fine (offsets fit), and values are intact
    monkeypatch.setattr(ws_mod, "_BIN_OFFSET_MAX", 9)
    got = _unpack(batches, 0, 0, 3)
    assert [v.as_py() for b in got for v in b.column(0)] == payloads
    assert [r[0] for r in _rows_iter(batches, 0, 3)] == payloads


def test_feed_proc_pack_frames_bit_identical():
    """Round-14 pin (VERDICT r13 item 2): the child's vectorized flush
    packing (``feed_proc.pack_frames`` — numpy structured headers + one
    C-level join) must produce the BYTE-IDENTICAL wire body as the old
    per-frame ``struct.pack("<QI", ts, len) + payload`` loop, on both
    sides of the small-batch dispatch threshold, and the reader's
    ``_unpack_frames`` must round-trip it losslessly."""
    import pyarrow as pa

    from ws_to_kafka_spark.sources import feed_proc

    def reference(frames):
        return b"".join(
            struct.pack("<QI", ts, len(p)) + p for ts, p in frames
        )

    cases = {
        "empty": [],
        "single": [(1_700_000_000_000_001, b"")],
        # below the vectorized threshold: plain loop path
        "small": [
            (1_700_000_000_000_000 + i, bytes([i % 251]) * (i % 7))
            for i in range(feed_proc._PACK_VEC_MIN - 1)
        ],
        # above it: numpy path, mixed sizes incl. zero-length payloads
        "large": [
            (2_000_000_000_000_000 + 37 * i, (b"%d|" % i) * (i % 29))
            for i in range(5 * feed_proc._PACK_VEC_MIN)
        ],
    }
    for name, frames in cases.items():
        got = feed_proc.pack_frames(list(frames))
        assert got == reference(frames), name
        if frames:
            batches = [(0, len(frames), got)]
            rows = list(_rows_iter(batches, 0, len(frames)))
            assert [r[0] for r in rows] == [p for _, p in frames], name
            assert [r[2] for r in rows] == [ts for ts, _ in frames], name
            tbl = pa.Table.from_batches(_unpack(batches, 1, 0, len(frames)))
            assert tbl.column("value").to_pylist() == [p for _, p in frames]
            assert tbl.column("ws_timestamp").cast(pa.int64()).to_pylist() == [
                ts for ts, _ in frames
            ], name


def test_feed_proc_reader_survives_non_wserror(monkeypatch):
    """ADVICE r10 receipt: a non-WsError escape from the decode loop
    (decode bug, unwrapped OSError) must NOT kill the reader thread
    silently — the feed child would stay alive with a dead reader and
    the parent pump would block forever with no respawn; the in-process
    `_FeedWorker` would stop delivering with no message. Both run the
    one shared connection loop, which logs and backs off for ANY
    exception, same as connection loss."""
    import threading

    from ws_to_kafka_spark.sources import feed_proc, ws_client

    dials = []

    class ExplodingClient:
        def __init__(self, url):
            dials.append(url)

        def connect(self):
            if len(dials) == 1:
                raise ValueError("decode bug standing in for any escape")
            # later dials: deliver one frame, then raise mid-iteration
            return None

        def send(self, msg):
            pass

        def frames(self):
            yield b"frame-1"
            raise RuntimeError("mid-stream non-WsError")

        def close_socket(self):
            pass

    monkeypatch.setattr(ws_client, "WsClient", ExplodingClient)

    # a loopback url: nothing resolves or dials for real
    url = "ws://127.0.0.1:9/feed"
    pending: list = []
    lock = threading.Lock()

    def n_pending():
        with lock:
            return len(pending)

    worker = _FeedWorker({"url": url, "reconnect_delay": 0.01})
    drivers = [
        (
            "feed_proc",
            feed_proc._connection(
                {"url": url, "reconnect_delay": 0.01}, pending, lock
            ),
            n_pending,
        ),
        ("_FeedWorker", worker, lambda: len(_buffered(worker))),
    ]
    for name, feed, delivered in drivers:
        dials.clear()
        t = feed.start()
        deadline = time.time() + 10
        while time.time() < deadline:
            if len(dials) >= 3 and delivered() >= 1:
                break  # survived the ValueError AND the mid-stream RuntimeError
            time.sleep(0.02)
        feed.stop()
        assert len(dials) >= 3, (
            f"{name}: reader did not redial past the escapes: {dials}"
        )
        assert delivered() >= 1, f"{name}: the delivered frame was lost"
        t.join(timeout=5)
        assert not t.is_alive(), f"{name}: reader outlived stop()"


def _owner(kind, retention=100_000, port=9):
    """A feed owner that is never started, so never dials: the in-process
    ``"thread"`` or the feed-child ``"proc"``."""
    cls = _FeedWorker if kind == "thread" else _ProcFeedWorker
    return cls(
        {"url": f"ws://127.0.0.1:{port}/feed", "reconnect_delay": 0.0},
        retention=retention,
    )


def _fill(worker, monkeypatch, n):
    """Hand ``worker`` ``n`` more frames: appends of ``frame-<index>`` to
    the in-process buffer, or flushes of 2 frames from a fake feed child."""
    if isinstance(worker, _ProcFeedWorker):
        _pump_fake_child(worker, monkeypatch, n // 2)
    else:
        first = worker.peek()[0]
        for i in range(first, first + n):
            worker._append(b"frame-%d" % i)


def _pump_fake_child(worker, monkeypatch, n_batches, per_batch=2):
    """Run ``worker``'s pump over one fake feed child that flushes
    ``n_batches`` packed batches of ``per_batch`` real frames each, then
    exits (the pump's respawn attempt ends it)."""
    import io

    from ws_to_kafka_spark.sources import feed_proc

    bodies = [
        feed_proc.pack_frames(
            [(1_700_000_000_000_000 + j, b"f%d" % j) for j in range(per_batch)]
        )
        for _ in range(n_batches)
    ]
    pipe = b"".join(struct.pack("<II", len(b), per_batch) + b for b in bodies)

    class FakeChild:
        stdout = io.BytesIO(pipe)

        def terminate(self):
            pass

        def wait(self, timeout=None):
            pass

    children = [FakeChild()]

    def spawn():
        if not children:  # the "respawn" after EOF ends the pump
            worker._stop.set()
            raise RuntimeError("stop")
        return children.pop()

    monkeypatch.setattr(worker, "_spawn", spawn)
    worker._stop.clear()
    worker._pump()


_MULTI_SCHEMA = StructType(
    [
        StructField("value", BinaryType()),
        StructField("ws_timestamp", TimestampType()),
        StructField("feed_id", IntegerType()),
    ]
)


def _reader(monkeypatch, workers, **options):
    """The engine's reader (``MultiWebSocketStreamReader``, schema with
    ``feed_id``) over pre-built feed owners: its first ``read`` takes
    them, in order, in place of new ones, then jumps each to its start
    and starts it (a no-op here)."""
    from ws_to_kafka_spark.sources import websocket as ws_mod

    pending = iter(workers)
    for w in workers:
        monkeypatch.setattr(w, "start", lambda: None)
    for name in ("_FeedWorker", "_ProcFeedWorker"):
        monkeypatch.setattr(ws_mod, name, lambda cfg, retention: next(pending))
    urls = [w._cfg["url"] for w in workers]
    return ws_mod.MultiWebSocketStreamReader(
        {"urls": json.dumps(urls), **{k: str(v) for k, v in options.items()}},
        _MULTI_SCHEMA,
    )


@pytest.mark.parametrize(
    "kind, frames, dropped, peek, values",
    [
        # a full buffer evicts its oldest frame on each append
        ("thread", 5, 2, (5, 2), [b"frame-2", b"frame-3", b"frame-4"]),
        # whole child batches go once past `retention` frames
        ("proc", 6, 4, (6, 4), [b"f0", b"f1"]),
    ],
    ids=["thread", "proc"],
)
def test_feed_worker_counts_frames_lost_to_retention(
    monkeypatch, caplog, kind, frames, dropped, peek, values
):
    """Retention overflow is counted, never silent, by either feed
    owner: ``dropped`` counts the evicted frames, and a read whose
    admitted range starts below the oldest retained frame logs one
    WARNING naming the feed and the frames lost."""
    worker = _owner(kind, retention=3)
    _fill(worker, monkeypatch, frames)
    assert worker.dropped == dropped
    assert worker.peek() == peek
    reader = _reader(monkeypatch, [worker]).simple_reader

    with caplog.at_level("WARNING", logger="ws_to_kafka_spark.sources"):
        batches, end = reader.read({"feeds": [0]})
    assert [v for b in batches for v in b.column("value").to_pylist()] == values
    assert end == {"feeds": [peek[0]]}
    warnings = [r for r in caplog.records if r.levelname == "WARNING"]
    assert len(warnings) == 1
    assert worker._cfg["url"] in warnings[0].getMessage()
    assert f"{peek[1]} frames lost" in warnings[0].getMessage()

    caplog.clear()
    reader.read({"feeds": [peek[1]]})  # a read past the gap loses nothing
    assert not caplog.records


@pytest.mark.parametrize(
    "kind, retention, first, cap, peek",
    [("thread", 3, 3, 0, (7, 4)), ("proc", 4, 4, 3, (8, 4))],
    ids=["thread", "proc"],
)
def test_feed_worker_counts_no_loss_for_frames_a_batch_took(
    monkeypatch, kind, retention, first, cap, peek
):
    """Retention evicting a frame that a batch already took loses
    nothing: the reader's ``read`` marks the taken frontier, and only
    evictions at or above it count as ``dropped`` (the child's buffer
    evicts whole batches, and counts only their untaken frames)."""
    worker = _owner(kind, retention)
    _fill(worker, monkeypatch, first)
    reader = _reader(monkeypatch, [worker], max_records_per_batch=cap)
    batches, end = reader.simple_reader.read({"feeds": [0]})
    assert end == {"feeds": [3]}
    assert sum(b.num_rows for b in batches) == 3  # frames [0, 3) taken

    _fill(worker, monkeypatch, 2)  # evicts taken frames only
    assert worker.dropped == 0
    _fill(worker, monkeypatch, 2)  # evicts frame 3 too, never taken
    assert worker.dropped == 1
    assert worker.peek() == peek


def test_reader_picks_the_feed_owner_from_the_feed_count(monkeypatch):
    """One feed is read by a thread of the source runner (every frame
    through a child would also wait for its next 15 ms flush); two or
    more get one feed child each, on either source's options."""
    from ws_to_kafka_spark.sources.websocket import WebSocketStreamReader

    monkeypatch.setattr(_FeedWorker, "start", lambda self: None)
    monkeypatch.setattr(_ProcFeedWorker, "start", lambda self: None)
    url = "ws://127.0.0.1:9/feed"
    cases = [
        ({"url": url}, [_FeedWorker]),
        ({"urls": json.dumps([url])}, [_FeedWorker]),
        ({"url": url, "fan_out": "2"}, [_ProcFeedWorker] * 2),
        ({"urls": json.dumps([url, url, url])}, [_ProcFeedWorker] * 3),
    ]
    for options, owners in cases:
        reader = WebSocketStreamReader(options)
        reader.read(reader.initialOffset())
        assert [type(f) for f in reader._feeds] == owners, options


def test_websocket_stop_stops_its_feed(monkeypatch):
    """Stopping a ``websocket`` query stops its feed. Spark builds the
    reader with ``_streamReader`` and its source runner ends with
    ``reader.stop()``; pyspark's own wrapper around a simple reader
    has a no-op ``stop``, which left the feed thread redialing until the
    runner process exited."""
    from pyspark.sql.datasource_internal import _streamReader

    from ws_to_kafka_spark.sources import websocket as ws_mod

    stopped = []

    class FakeFeed(_FeedWorker):
        def start(self):
            pass

        def stop(self):
            stopped.append(self)

    monkeypatch.setattr(ws_mod, "_FeedWorker", FakeFeed)
    source = ws_mod.WebSocketDataSource({"url": "ws://127.0.0.1:9/feed"})
    schema = StructType(_MULTI_SCHEMA.fields[:2])
    reader = _streamReader(source, schema)
    reader.latestOffset()  # the first read starts the feed
    reader.stop()
    assert len(stopped) == 1 and isinstance(stopped[0], FakeFeed)


def test_websocket_multi_resume_jumps_fresh_feeds_to_the_offset(monkeypatch):
    """Checkpoint restart: the engine hands a fresh reader the resumed
    offset (``setLatestSeenOffset`` plans the empty range end..end),
    and the first ``latestOffset`` reads from it. Each fresh feed must
    jump to its own start, so frames after the restart are numbered
    from there, not from 0 (which the engine would treat as consumed)."""
    feeds = [_owner("proc", port=9), _owner("proc", port=10)]
    reader = _reader(monkeypatch, feeds)
    resumed = {"feeds": [5, 7]}
    reader.partitions(resumed, resumed)
    assert reader.latestOffset() == resumed  # nothing new yet
    assert [w.peek() for w in feeds] == [(5, 5), (7, 7)]

    _pump_fake_child(feeds[0], monkeypatch, 1)
    _pump_fake_child(feeds[1], monkeypatch, 2)
    assert reader.latestOffset() == {"feeds": [7, 11]}
    rows = [
        (r["feed_id"], r["value"])
        for b in reader.getCache(resumed, {"feeds": [7, 11]})
        for r in b.to_pylist()
    ]
    assert rows == [(0, b"f0"), (0, b"f1")] + [(1, b"f0"), (1, b"f1")] * 2


def test_websocket_multi_capped_read_windows_from_the_oldest_frame(
    monkeypatch, caplog
):
    """The per-feed cap windows from max(start, oldest retained frame):
    a start that retention overflow has passed admits ``cap`` frames
    from the oldest one left (and warns about the gap), never ``cap``
    frames from the lost start."""
    worker = _owner("proc", retention=4)
    _pump_fake_child(worker, monkeypatch, 4)  # [0, 8); [4, 8) retained
    assert worker.peek() == (8, 4)
    reader = _reader(monkeypatch, [worker], max_records_per_batch=3).simple_reader

    with caplog.at_level("WARNING", logger="ws_to_kafka_spark.sources"):
        batches, end = reader.read({"feeds": [0]})
    assert end == {"feeds": [7]}  # frames 4, 5, 6
    assert [r["value"] for b in batches for r in b.to_pylist()] == [
        b"f0", b"f1", b"f0"
    ]
    (warning,) = [r for r in caplog.records if r.levelname == "WARNING"]
    assert "4 frames lost" in warning.getMessage()

    _, end = reader.read({"feeds": [5]})  # past the gap: from the start
    assert end == {"feeds": [8]}


@pytest.mark.parametrize(
    "options, urls, start, end",
    [
        ({"url": "ws://127.0.0.1:9/feed"}, ["ws://127.0.0.1:9/feed"], [3], [10]),
        (
            {"urls": json.dumps(["ws://127.0.0.1:9/a", "ws://127.0.0.1:9/b",
                                 "ws://127.0.0.1:9/c"])},
            ["ws://127.0.0.1:9/a", "ws://127.0.0.1:9/b", "ws://127.0.0.1:9/c"],
            [2, 4, 6],
            [5, 4, 10],
        ),
    ],
    ids=["websocket", "websocket_multi"],
)
def test_websocket_readbetween_without_a_feed_warns_of_the_lost_frames(
    caplog, options, urls, start, end
):
    """The executor path: the wrapper's ``read(partition)`` replays
    through ``readBetweenOffsets`` on a reader that never started its
    feeds (an executor copy, or a restart replay), so the batch runs
    empty — one WARNING names the feeds with frames in the range and the
    frames lost, and an empty range warns of nothing."""
    from pyspark.sql.datasource_internal import SimpleInputPartition

    from ws_to_kafka_spark.sources.websocket import MultiWebSocketStreamReader

    reader = MultiWebSocketStreamReader(options)
    with caplog.at_level("WARNING", logger="ws_to_kafka_spark.sources"):
        part = SimpleInputPartition({"feeds": start}, {"feeds": end})
        assert list(reader.read(part)) == []
        part = SimpleInputPartition({"feeds": end}, {"feeds": end})
        assert list(reader.read(part)) == []
    (warning,) = [r for r in caplog.records if r.levelname == "WARNING"]
    msg = warning.getMessage()
    for url, s, e in zip(urls, start, end):
        assert (url in msg) == (e > s), url
    assert "7 frames" in msg
    assert reader.simple_reader._feeds is None  # no feed was started


def test_websocket_multi_source_runner_sends_arrow_batches_to_the_jvm(
    monkeypatch,
):
    """Regression guard for the prefetch path: Spark's source runner must
    answer a planned `websocket_multi` batch with the prefetched Arrow
    batches (``NON_EMPTY_PYARROW_RECORD_BATCHES``), so the JVM block
    store serves the batch and no executor Python task runs. A reader
    that is not a ``_SimpleStreamReaderWrapper`` gets
    ``PREFETCHED_RECORDS_NOT_FOUND`` and sends every batch back to
    executor Python workers."""
    import io

    import pyarrow as pa
    from pyspark.serializers import read_int, write_with_length
    from pyspark.sql.datasource_internal import _streamReader
    from pyspark.sql.streaming import python_streaming_source_runner as runner

    from ws_to_kafka_spark.sources.websocket import MultiWebSocketDataSource

    worker = _owner("proc")
    _pump_fake_child(worker, monkeypatch, 3)  # frames [0, 6)
    _reader(monkeypatch, [worker])  # the source's reader takes `worker`
    source = MultiWebSocketDataSource(
        {"urls": json.dumps([worker._cfg["url"]])}
    )
    reader = _streamReader(source, _MULTI_SCHEMA)
    start = reader.initialOffset()
    end = reader.latestOffset()
    assert end == {"feeds": [6]}

    infile, outfile = io.BytesIO(), io.BytesIO()
    for offset in (start, end):
        write_with_length(json.dumps(offset).encode("utf-8"), infile)
    infile.seek(0)
    runner.partitions_func(reader, source, _MULTI_SCHEMA, 10_000, infile, outfile)

    outfile.seek(0)
    assert read_int(outfile) == 1  # one input partition
    outfile.read(read_int(outfile))  # its pickled bytes
    assert read_int(outfile) == runner.NON_EMPTY_PYARROW_RECORD_BATCHES
    read_int(outfile)  # START_ARROW_STREAM
    table = pa.ipc.open_stream(outfile).read_all()
    assert table.column("value").to_pylist() == [b"f0", b"f1"] * 3
    assert table.column("feed_id").to_pylist() == [0] * 6

"""WebSocket streaming source — the reference's core capability, as a
PySpark Python DataSource (Spark 4.x ``pyspark.sql.datasource`` API).

Reference behaviors reproduced (``/root/reference/src/wsclient.hpp``):

* connect → (TLS) → handshake → **send subscribe message** → read loop
  (``wsclient.hpp:132-168``; subscribe at ``:144``);
* on connection error: log, sleep 5 s, full re-resolve/re-handshake/
  re-subscribe (``wsclient.hpp:158-162``, ``kErrorDelay`` at ``:22``) —
  both readers below run this one loop, ``ws_client.FeedConnection``;
* handshake/idle timeouts 2 s / 10 s with ping keep-alive
  (``wsclient.hpp:20-21,141-142``);
* periodic control messages re-sent every ``interval`` seconds
  (``interval_timer.hpp:8-47``, fixed-rate drift-free deadline stepping;
  wiring ``main.cpp:54-62``) — sent from a timer thread through the same
  connection (``wsclient.hpp:171-182``);
* each data frame becomes one record tagged with a processing-time
  timestamp (``kafka_producer.cpp:41-42``);
* payload bytes are forwarded VERBATIM as a ``binary`` column
  (``main.cpp:48-50`` → ``kafka_producer.cpp:47-49``, ``RK_MSG_COPY`` —
  the reference never decodes; neither do we).

Delivery semantics are the reference's **at-most-once** (SURVEY.md §2.1):
a WebSocket is not replayable, so offsets only bound microbatches —
``readBetweenOffsets`` replays from a bounded retention cache (strictly
better than the reference, which loses everything in flight), and frames
arriving while disconnected are lost on both systems.

Scale note: one WebSocket connection is inherently ONE input partition
(the reference is likewise single-connection, ``wsclient.hpp:38-53``);
parallelism comes from running one source per stream/topic and from
everything downstream of the source exchange. The simple-reader variant
buffers on the driver, which is exactly where a single ordered socket
must serialize anyway. For sharded feeds, ``websocket_multi`` (below)
runs N connections and plans N input partitions per microbatch —
per-feed frame order is preserved within its partition and downstream
map work runs N-wide with no exchange.
"""

from __future__ import annotations

import json
import logging
import threading
from collections import deque
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

#: Epoch anchor for exact integer micros -> datetime conversion
#: (_FeedBlobSlice.rows_iter; ADVICE r10).
_EPOCH_UTC = datetime(1970, 1, 1, tzinfo=timezone.utc)

#: Arrow `binary` (non-large) offsets are int32: one batch's gathered
#: payload must stay under 2 GiB or the offsets buffer wraps. Module
#: constant (not a literal) so the boundary test can scale it down.
_BIN_OFFSET_MAX = 2**31 - 1

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

from .ws_client import RECONNECT_DELAY_S, FeedConnection

log = logging.getLogger("ws_to_kafka_spark.sources")


def _warn_if_lost(url: str, start: int, oldest: int, end: int) -> None:
    """Log the frames of the admitted range [start, end) that retention
    overflow evicted before the range was read: the range claims them,
    but the batch starts at the oldest retained frame."""
    lost = min(oldest, end) - start
    if lost > 0:
        log.warning(
            "websocket feed %s: %d frames lost to retention overflow "
            "(offsets %d-%d)", url, lost, start, start + lost - 1,
        )

# value is BINARY, not string: the reference forwards frame bytes verbatim
# (src/main.cpp:48-50 hands the payload pointer straight to
# kafka_producer.cpp:47-49, RK_MSG_COPY — no decode), so a non-UTF-8 binary
# frame must survive byte-for-byte. A string column decoded with
# errors="replace" is lossy exactly there; Kafka's sink contract accepts
# binary values natively, and text consumers cast: value.cast("string").
_SCHEMA_DDL = "value binary, ws_timestamp timestamp"


@dataclass
class _Record:
    index: int
    value: bytes
    ts: datetime


class _FeedWorker:
    """Retention buffer over one `FeedConnection` (dial → subscribe →
    read, redialing forever — the reference's Start() loop): numbers
    each frame, stamps its arrival time and keeps the newest
    ``retention`` frames for the reader. ``dropped`` counts the frames
    retention overflow evicted before a batch took them (see
    ``mark_taken``)."""

    def __init__(
        self,
        url: str,
        subscribe: str | None,
        interval_seconds: float,
        interval_messages: tuple[str, ...],
        reconnect_delay: float = RECONNECT_DELAY_S,
        retention: int = 100_000,
    ):
        self._url = url
        self._buffer: deque[_Record] = deque(maxlen=retention)
        self._lock = threading.Lock()
        self._next_index = 0
        self._taken = 0
        self.dropped = 0
        self._conn = FeedConnection(
            url,
            self._append,
            subscribe=subscribe,
            interval=interval_seconds,
            interval_messages=interval_messages,
            reconnect_delay=reconnect_delay,
        )

    def start(self) -> threading.Thread:
        return self._conn.start("ws-feed")

    def stop(self) -> None:
        self._conn.stop()

    # -- buffer -------------------------------------------------------------

    def _append(self, payload: bytes) -> None:
        rec = _Record(
            index=self._next_index,
            value=bytes(payload),  # byte-faithful (main.cpp:48-50 parity)
            ts=datetime.now(timezone.utc),
        )
        with self._lock:
            self._next_index += 1
            if (
                len(self._buffer) == self._buffer.maxlen
                and self._buffer[0].index >= self._taken
            ):
                self.dropped += 1  # the append evicts an untaken frame
            self._buffer.append(rec)

    def mark_taken(self, end_index: int) -> None:
        """A batch took every frame below ``end_index``: evicting those
        later loses nothing."""
        with self._lock:
            self._taken = max(self._taken, end_index)

    def snapshot(self, start_index: int) -> tuple[list[_Record], int]:
        """Records with index >= start_index, plus the next offset."""
        with self._lock:
            records = [r for r in self._buffer if r.index >= start_index]
            oldest = records[0].index if records else self._next_index
            next_index = self._next_index
        _warn_if_lost(self._url, start_index, oldest, next_index)
        return records, next_index

    def between(self, start_index: int, end_index: int) -> list[_Record]:
        with self._lock:
            return [r for r in self._buffer if start_index <= r.index < end_index]

    def prune(self, end_index: int) -> None:
        with self._lock:
            while self._buffer and self._buffer[0].index < end_index:
                self._buffer.popleft()


class _BatchRec:
    """One child-process flush: ``n`` frames packed in ``body`` (see
    feed_proc wire format), numbered [index, index+n)."""

    __slots__ = ("index", "n", "body")

    def __init__(self, index: int, n: int, body: bytes):
        self.index = index
        self.n = n
        self.body = body


class _ProcFeedWorker:
    """Process-isolated connection owner (round-10): the socket + frame
    decode live in a `feed_proc` child process on its own core; this
    driver-side shell pumps length-prefixed batches off the pipe —
    O(1) Python work per BATCH — and serves the peek/batches_between/
    prune/jump surface `MultiWebSocketStreamReader` plans offsets from.
    Four sockets through the round-9 in-process thread design totalled
    0.93x ONE socket (GIL); per-frame work now runs N-wide in children
    and executors. ``dropped`` counts the frames retention overflow
    evicted before a batch took them (see ``mark_taken``)."""

    def __init__(self, cfg: dict, retention: int = 100_000):
        self._cfg = dict(cfg)
        self._retention = retention
        self._buffer: deque[_BatchRec] = deque()
        self._n_buffered = 0
        self._lock = threading.Lock()
        self._next_index = 0
        self._taken = 0
        self.dropped = 0
        self._stop = threading.Event()
        self._proc = None
        self._pump_thread: threading.Thread | None = None

    def start(self) -> None:
        self._pump_thread = threading.Thread(
            target=self._pump, name="ws-feed-pump", daemon=True
        )
        self._pump_thread.start()

    def _spawn(self):
        import os
        import subprocess
        import sys as _sys
        from pathlib import Path

        env = os.environ.copy()
        root = str(Path(__file__).resolve().parents[2])
        env["PYTHONPATH"] = root + os.pathsep + env.get("PYTHONPATH", "")

        def _die_with_parent():  # pragma: no cover - runs in the child
            # PR_SET_PDEATHSIG: the kernel SIGKILLs the child the moment
            # its parent dies, so a crashed/killed driver can never strand
            # decode processes (observed: a child in its redial loop
            # outliving the bench process by design of the pipe lifecycle)
            try:
                import ctypes
                import signal as _signal

                ctypes.CDLL("libc.so.6", use_errno=True).prctl(
                    1, _signal.SIGKILL, 0, 0, 0
                )
            except Exception:
                pass

        proc = subprocess.Popen(
            [
                _sys.executable,
                "-m",
                "ws_to_kafka_spark.sources.feed_proc",
                json.dumps(self._cfg),
            ],
            # stderr is inherited: the child's connection loop logs any
            # non-WsError traceback there before it redials
            stdout=subprocess.PIPE,
            env=env,
            preexec_fn=_die_with_parent,
        )
        try:
            # widen the kernel pipe (default 64 KB): a GIL-delayed pump
            # thread must not backpressure the child's decode loop —
            # measured per-socket retention at 4 feeds rides on this
            import fcntl

            fcntl.fcntl(
                proc.stdout.fileno(),
                getattr(fcntl, "F_SETPIPE_SZ", 1031),
                1 << 20,
            )
        except (ImportError, OSError):
            pass  # non-Linux or EPERM: the default pipe still works
        return proc

    def _pump(self) -> None:
        import struct

        while not self._stop.is_set():
            try:
                self._proc = self._spawn()
            except Exception:
                self._stop.wait(self._cfg.get("reconnect_delay", 5.0))
                continue
            out = self._proc.stdout
            while not self._stop.is_set():
                hdr = out.read(8)
                if hdr is None or len(hdr) < 8:
                    break  # child exited
                nbytes, nframes = struct.unpack("<II", hdr)
                body = out.read(nbytes)
                if body is None or len(body) < nbytes:
                    break
                with self._lock:
                    self._buffer.append(
                        _BatchRec(self._next_index, nframes, body)
                    )
                    self._next_index += nframes
                    self._n_buffered += nframes
                    while (
                        len(self._buffer) > 1
                        and self._n_buffered > self._retention
                    ):
                        evicted = self._buffer.popleft()
                        self._n_buffered -= evicted.n
                        # only its frames at or above the taken frontier
                        end = evicted.index + evicted.n
                        if end > self._taken:
                            self.dropped += end - max(evicted.index, self._taken)
            # child died unexpectedly: the reference's persistent-feed
            # contract says redial forever; frame numbering continues.
            if not self._stop.is_set():
                self._stop.wait(self._cfg.get("reconnect_delay", 5.0))
        # belt and braces for the stop()-vs-respawn race: whatever child
        # this pump last spawned dies with the pump
        self._reap(self._proc)

    @staticmethod
    def _reap(proc) -> None:
        if proc is None:
            return
        try:
            proc.terminate()
            try:
                proc.wait(timeout=2)
            except Exception:
                proc.kill()
        except Exception:
            pass

    # -- the reader-facing surface -------------------------------------------

    def peek(self) -> tuple[int, int]:
        """(next_index, oldest retained index)."""
        with self._lock:
            lo = self._buffer[0].index if self._buffer else self._next_index
            return self._next_index, lo

    def mark_taken(self, end_index: int) -> None:
        """A batch took every frame below ``end_index``: evicting those
        later loses nothing."""
        with self._lock:
            self._taken = max(self._taken, end_index)

    def batches_between(self, start: int, end: int) -> list[_BatchRec]:
        with self._lock:
            return [
                r
                for r in self._buffer
                if r.index < end and r.index + r.n > start
            ]

    def prune(self, end_index: int) -> None:
        with self._lock:
            while self._buffer and (
                self._buffer[0].index + self._buffer[0].n <= end_index
            ):
                dropped = self._buffer.popleft()
                self._n_buffered -= dropped.n

    def jump(self, start: int) -> None:
        with self._lock:
            if start > self._next_index:
                self._next_index = start

    def stop(self) -> None:
        self._stop.set()
        proc, self._proc = self._proc, None
        self._reap(proc)


#: Rows per pyarrow RecordBatch handed to the prefetch runner — bounds
#: the allocation of a post-restart drain batch (the runner does NOT
#: re-slice RecordBatches the way it batches tuple iterators).
_ARROW_CHUNK_ROWS = 20_000

_ARROW_SCHEMA = None  # lazily built per process (import cost)


def _records_to_batches(records):
    """(value, ts) records → list of pyarrow RecordBatches matching the
    runner's to_arrow_schema(_SCHEMA_DDL) exactly."""
    global _ARROW_SCHEMA
    import pyarrow as pa

    if _ARROW_SCHEMA is None:
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import (  # DDL parse needs a live context;
            BinaryType,                  # the runner process has none
            StructField,
            StructType,
            TimestampType,
        )

        _ARROW_SCHEMA = to_arrow_schema(
            StructType(
                [
                    StructField("value", BinaryType()),
                    StructField("ws_timestamp", TimestampType()),
                ]
            )
        )
    out = []
    for lo in range(0, len(records), _ARROW_CHUNK_ROWS):
        chunk = records[lo:lo + _ARROW_CHUNK_ROWS]
        out.append(
            pa.RecordBatch.from_arrays(
                [
                    pa.array([r.value for r in chunk], type=_ARROW_SCHEMA[0].type),
                    pa.array([r.ts for r in chunk], type=_ARROW_SCHEMA[1].type),
                ],
                schema=_ARROW_SCHEMA,
            )
        )
    return out


class WebSocketStreamReader(SimpleDataSourceStreamReader):
    """Simple (driver-buffered) stream reader over one WebSocket feed.

    Pickling contract: Spark ships this reader to (a) the driver-side
    prefetch runner process, which calls ``read()`` and OWNS the live
    connection, and (b) executors, which only ever call
    ``readBetweenOffsets`` as a cache-miss fallback. The live worker
    (threads, socket, locks) is therefore started LAZILY on first
    ``read()`` and excluded from pickles; an executor copy without a
    worker answers the fallback with an empty replay — the reference's
    at-most-once (SURVEY.md §2.1), never a second competing connection.
    """

    def __init__(self, options: dict):
        if not options.get("url"):
            raise ValueError("websocket source requires an 'url' option")
        self._options = dict(options)
        self._worker: _FeedWorker | None = None

    def __getstate__(self) -> dict:
        return {"_options": self._options}

    def __setstate__(self, state: dict) -> None:
        self._options = state["_options"]
        self._worker = None

    def _ensure_worker(self, base_index: int = 0) -> _FeedWorker:
        if self._worker is None:
            opts = self._options
            parsed = json.loads(opts.get("interval_messages") or "[]")
            self._worker = _FeedWorker(
                url=opts["url"],
                subscribe=opts.get("subscribe"),
                interval_seconds=float(opts.get("interval", 0) or 0),
                interval_messages=tuple(
                    m if isinstance(m, str) else json.dumps(m) for m in parsed
                ),
                reconnect_delay=float(
                    opts.get("reconnect_delay", RECONNECT_DELAY_S)
                ),
                retention=int(opts.get("retention", 100_000)),
            )
            # Checkpoint-restart: the engine resumes from committed offset N,
            # but a socket cannot replay — a fresh worker numbering from 0
            # would have its first N frames treated as already-consumed and
            # silently skipped. Baseline the new connection's numbering at
            # the resume offset instead: restart means "continue from now",
            # the reference's semantics (it restarts from scratch,
            # /root/reference/src/wsclient.hpp:158-162 — ours additionally
            # keeps offsets monotonic for the engine's bookkeeping).
            self._worker._next_index = base_index
            self._worker.start()
        return self._worker

    def initialOffset(self) -> dict:
        return {"index": 0}

    def read(self, start: dict) -> tuple:
        records, next_index = self._ensure_worker(start["index"]).snapshot(
            start["index"]
        )
        # Admission control (the kafka maxOffsetsPerTrigger analog): cap
        # rows per microbatch so a burst — or a backlog after restart —
        # drains as several bounded batches instead of one giant one.
        # Bounded batches keep per-batch latency flat and state-store /
        # sink pressure constant; the un-consumed tail stays in the
        # buffer and the returned offset only advances past what this
        # batch actually took. 0 (default) = unlimited, the reference's
        # drain-everything behavior.
        cap = int(self._options.get("max_records_per_batch", 0) or 0)
        if cap > 0 and len(records) > cap:
            records = records[:cap]
            next_index = records[-1].index + 1
        self._worker.mark_taken(next_index)
        if not records:
            return iter(()), {"index": next_index}
        # Deliver as pyarrow RecordBatches, not per-row tuples (round-12
        # VERDICT item 5): the prefetch runner's
        # records_to_arrow_batches yields RecordBatches straight into
        # the JVM Arrow stream, skipping the per-row converter pipeline
        # (type-check + field conversion per tuple) that dominated the
        # per-batch addBatch cost. Arrays are built with the SAME
        # to_arrow_schema call the runner itself uses, so types (binary,
        # timestamp[us] with the session tz rule) match exactly; chunks
        # of _ARROW_CHUNK_ROWS keep a post-restart drain batch from
        # materializing as one giant allocation.
        return iter(_records_to_batches(records)), {"index": next_index}

    def readBetweenOffsets(self, start: dict, end: dict):
        # Failure recovery: best-effort replay from the retention cache.
        # A socket can't seek — outside the cache (or on a worker-less
        # executor copy) this degrades to the reference's at-most-once.
        if self._worker is None:
            return iter(())
        return iter(
            (r.value, r.ts) for r in self._worker.between(start["index"], end["index"])
        )

    def commit(self, end: dict) -> None:
        if self._worker is not None:
            self._worker.prune(end["index"])

    def stop(self) -> None:
        if self._worker is not None:
            self._worker.stop()


class WebSocketDataSource(DataSource):
    """``spark.readStream.format("websocket")`` after registration.

    Options (mirroring config.json fields, ``/root/reference/src/main.cpp:
    80-97``): ``url``, ``subscribe`` (message sent on every (re)connect),
    ``interval`` + ``interval_messages`` (JSON array, re-sent every
    interval), ``reconnect_delay``, ``retention``.
    """

    @classmethod
    def name(cls) -> str:
        return "websocket"

    def schema(self) -> str:
        return _SCHEMA_DDL

    def simpleStreamReader(self, schema: StructType) -> WebSocketStreamReader:
        return WebSocketStreamReader(dict(self.options))


def register_websocket_source(spark) -> None:
    """Register the source under the name ``websocket`` (idempotent)."""
    spark.dataSource.register(WebSocketDataSource)


# ---------------------------------------------------------------------------
# Multi-connection source: N sockets -> N input partitions per microbatch.
# ---------------------------------------------------------------------------

_MULTI_SCHEMA_DDL = "value binary, ws_timestamp timestamp, feed_id int"


class _FeedBlobSlice(InputPartition):
    """One feed's share of a microbatch: the child's packed batches ride
    to the executor as opaque bytes and the per-frame unpack (struct
    walk + timestamp decode) runs THERE — the driver never touches
    individual frames. InputPartitions are pickled to executors, so N
    feeds land as N PARALLEL map tasks with no exchange."""

    def __init__(
        self, feed_id: int, start: int, end: int, batches: list[tuple]
    ):
        self.feed_id = feed_id
        self.start = start
        self.end = end
        self.batches = batches  # [(first_index, n_frames, body), ...]

    def rows_iter(self):
        import struct

        for first, n, body in self.batches:
            off = 0
            idx = first
            for _ in range(n):
                ts_us, ln = struct.unpack_from("<QI", body, off)
                off += 12
                if self.start <= idx < self.end:
                    # Exact integer micros (ADVICE r10): float division
                    # at ~1.7e9 s has ~0.5 µs ulp, so fromtimestamp(
                    # ts_us / 1e6) could land one microsecond off the
                    # child-recorded wire value. timedelta(microseconds=)
                    # is integer-exact.
                    yield (
                        body[off:off + ln],
                        _EPOCH_UTC + timedelta(microseconds=ts_us),
                        self.feed_id,
                    )
                off += ln
                idx += 1

    def batches_iter(self):
        """The engine path (round 12): unpack each child-packed batch
        into ONE pyarrow RecordBatch — plan_data_source_read's
        records_to_arrow_batches passes RecordBatch elements straight
        into the Arrow stream, skipping the per-row converter that made
        the executor unpack per-frame-Python-object bound. Timestamps
        go in as exact int64 epoch micros (the same instants
        rows_iter's timedelta arithmetic produces — the ADVICE-r10
        exactness pin covers both). rows_iter stays for replay/tests.

        Round 13: the per-frame list-append + ``pa.array(list)`` build
        measured 70k frames/s/core in isolation — suspiciously equal to
        the whole 4-socket steady rate (69.9k), i.e. THE executor-path
        bottleneck VERDICT r12 item 1 pointed at. Now only the header
        walk (offset chain is sequential by format) stays a Python
        loop; the payload bytes move via ONE numpy fancy-gather and the
        Arrow arrays are built zero-copy over numpy buffers
        (`Array.from_buffers` — the optimization-guide §4.2 re-slice
        rule: a binary column is a data buffer plus offsets, so
        stripping the 12-byte headers is offset arithmetic, not per-row
        copies). Same RecordBatch values bit-for-bit (pinned in
        tests/test_streaming.py). Measured in isolation: 70k -> ~700k
        frames/s/core on the bench frame shape."""
        import numpy as np
        import pyarrow as pa
        import struct

        schema = _multi_arrow_schema()
        unpack = struct.unpack_from
        for first, n, body in self.batches:
            ts = np.empty(n, dtype=np.int64)
            starts = np.empty(n, dtype=np.int64)
            lens = np.empty(n, dtype=np.int64)
            off = 0
            for i in range(n):
                t, ln = unpack("<QI", body, off)
                ts[i] = t
                starts[i] = off + 12
                lens[i] = ln
                off += 12 + ln
            lo = max(0, self.start - first)
            hi = min(n, self.end - first)
            if hi <= lo:
                continue
            m = hi - lo
            ts_s, st_s, ln_s = ts[lo:hi], starts[lo:hi], lens[lo:hi]
            offsets = np.zeros(m + 1, dtype=np.int64)
            np.cumsum(ln_s, out=offsets[1:])
            total = int(offsets[-1])
            # int32 offsets: a child batch body is bounded by the pipe
            # flush cadence (~15 ms of frames), far under 2 GiB — but the
            # bound is an operating-point assumption, so ENFORCE it, and
            # before the gather index and data copy are allocated: a
            # silent astype wrap would hand Arrow a corrupt offsets
            # buffer (garbage rows, no error). Loud failure instead.
            if total > _BIN_OFFSET_MAX:
                raise ValueError(
                    f"packed batch payload {total} B exceeds the 2 GiB "
                    "Arrow binary-offset bound (int32); shrink the child "
                    "flush cadence or batch admission cap"
                )
            # value j of frame i lives at body[st_s[i] + (j - offsets[i])]:
            # one vectorized gather re-packs all payloads contiguously
            pos = np.repeat(st_s - offsets[:-1], ln_s) + np.arange(
                total, dtype=np.int64
            )
            data = np.frombuffer(body, dtype=np.uint8)[pos]
            val_arr = pa.Array.from_buffers(
                pa.binary(),
                m,
                [
                    None,
                    pa.py_buffer(offsets.astype(np.int32)),
                    pa.py_buffer(data),
                ],
            )
            ts_arr = pa.Array.from_buffers(
                schema[1].type, m, [None, pa.py_buffer(ts_s.copy())]
            )
            fid_arr = pa.array(
                np.full(m, self.feed_id, dtype=np.int32),
                type=schema[2].type,
            )
            yield pa.RecordBatch.from_arrays(
                [val_arr, ts_arr, fid_arr], schema=schema
            )


_MULTI_ARROW_SCHEMA = None


def _multi_arrow_schema():
    global _MULTI_ARROW_SCHEMA
    if _MULTI_ARROW_SCHEMA is None:
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import (  # built directly: executors have
            BinaryType,                  # no live context for DDL parsing
            IntegerType,
            StructField,
            StructType,
            TimestampType,
        )

        _MULTI_ARROW_SCHEMA = to_arrow_schema(
            StructType(
                [
                    StructField("value", BinaryType()),
                    StructField("ws_timestamp", TimestampType()),
                    StructField("feed_id", IntegerType()),
                ]
            )
        )
    return _MULTI_ARROW_SCHEMA


class MultiWebSocketStreamReader(DataSourceStreamReader):
    """N-connection stream reader: each configured url/subscription gets
    its own `_ProcFeedWorker` (a `feed_proc` child running the shared
    connection loop, plus a driver-side retention buffer) and its own
    entry in the offset vector, and `partitions()` plans one input
    partition per feed per microbatch.

    Why this shape: the reference — and round ≤8's `websocket` source —
    is one socket ⇒ one input partition (SURVEY §4.2), which makes the
    SOURCE the streaming path's scale ceiling (measured 32.9k frames/s).
    Real feeds shard (per-symbol subscriptions, per-shard endpoints);
    this source turns that sharding into genuine input parallelism.

    Where the work runs (round-10): each connection lives in a
    `feed_proc` CHILD PROCESS that decodes frames on its own core and
    ships packed batches up a pipe; the driver does O(1) work per batch
    and executors unpack frames in parallel (`_FeedBlobSlice`), so N
    sockets ingest ~N-wide instead of serializing on the driver's GIL
    (the round-9 in-process thread design measured 0.93x ONE socket's
    rate at four sockets). Offset planning stays driver-side
    (latestOffset/partitions/commit — the Python DataSource API gives
    executors no durable state between batches, and a WebSocket cannot
    be re-dialed per batch without dropping frames). The driver is thus
    a fan-in for BATCHED FRAME BYTES but not for per-frame compute; at
    the point the driver NIC saturates, the production answer is one
    source per shard feeding a replayable log (the reference's Kafka),
    which is exactly the pipeline this repo's sink side implements.

    Offsets: ``{"feeds": [i0, i1, ...]}`` — per-feed next-index vector.
    Restart semantics are the single-connection source's "continue from
    now" (at-most-once, SURVEY §2.1): sockets cannot replay, so a resume
    from offset N baselines fresh connections at N (first `partitions()`
    call observes start > the new worker's index and jumps it forward);
    frames that arrived while down are lost on both systems.
    """

    def __init__(self, options: dict):
        self._options = dict(options)
        self._specs = self._parse_specs(self._options)
        self._workers: list[_ProcFeedWorker] | None = None
        # last offsets this reader PLANNED (returned from latestOffset or
        # seen as an end in partitions). The admission cap must window
        # from here, not from the committed/pruned frontier: the engine
        # only delivers commit(end_N) while planning batch N+2, so a cap
        # anchored at the committed frontier deadlocks after one batch —
        # latestOffset == last end ⇒ no new batch ⇒ no commit ⇒ no
        # progress.
        self._planned: list[int] | None = None

    @staticmethod
    def _parse_specs(opts: dict) -> list[dict]:
        """Feed specs from options: ``urls`` (JSON array of url strings),
        optionally paired with ``subscribes`` (JSON array, same length);
        or ``url`` (+ ``subscribe``) with ``fan_out`` N identical
        connections (subscription-sharding servers)."""
        urls_raw = opts.get("urls")
        if urls_raw:
            urls = json.loads(urls_raw)
            subs_raw = opts.get("subscribes")
            subs = json.loads(subs_raw) if subs_raw else [None] * len(urls)
            if len(subs) != len(urls):
                raise ValueError(
                    "websocket_multi: 'subscribes' must pair 1:1 with "
                    f"'urls' ({len(subs)} vs {len(urls)})"
                )
            single_sub = opts.get("subscribe")
            return [
                {"url": u, "subscribe": s if s is not None else single_sub}
                for u, s in zip(urls, subs)
            ]
        if opts.get("url"):
            n = int(opts.get("fan_out", 1) or 1)
            return [
                {"url": opts["url"], "subscribe": opts.get("subscribe")}
                for _ in range(n)
            ]
        raise ValueError(
            "websocket_multi source requires 'urls' (JSON array) or "
            "'url' [+ 'fan_out']"
        )

    # live threads/sockets never pickle (executor copies plan nothing)
    def __getstate__(self) -> dict:
        return {"_options": self._options, "_specs": self._specs}

    def __setstate__(self, state: dict) -> None:
        self._options = state["_options"]
        self._specs = state["_specs"]
        self._workers = None
        self._planned = None

    def _ensure_workers(self) -> list[_ProcFeedWorker]:
        if self._workers is None:
            opts = self._options
            parsed = json.loads(opts.get("interval_messages") or "[]")
            msgs = [
                m if isinstance(m, str) else json.dumps(m) for m in parsed
            ]
            self._workers = []
            for spec in self._specs:
                # one decode core per socket
                w = _ProcFeedWorker(
                    {
                        "url": spec["url"],
                        "subscribe": spec["subscribe"],
                        "interval": float(opts.get("interval", 0) or 0),
                        "interval_messages": msgs,
                        "reconnect_delay": float(
                            opts.get("reconnect_delay", RECONNECT_DELAY_S)
                        ),
                    },
                    retention=int(opts.get("retention", 100_000)),
                )
                w.start()
                self._workers.append(w)
        return self._workers

    def initialOffset(self) -> dict:
        return {"feeds": [0] * len(self._specs)}

    def latestOffset(self) -> dict:
        workers = self._ensure_workers()
        # per-feed admission control (the kafka maxOffsetsPerTrigger
        # analog, same rationale as the single-connection reader)
        cap = int(self._options.get("max_records_per_batch", 0) or 0)
        if self._planned is None:
            self._planned = [0] * len(workers)
        out = []
        for i, w in enumerate(workers):
            # oldest unpruned record: on a fresh start this is the
            # connection baseline; past it, the planned frontier (see
            # __init__) is the cap anchor — each trigger admits at
            # most `cap` rows per feed beyond what the engine has
            # already planned, regardless of commit-callback timing.
            nxt, lo = w.peek()
            base = max(self._planned[i], lo)
            if cap > 0:
                nxt = min(nxt, base + cap)
            out.append(max(nxt, self._planned[i]))
        self._planned = list(out)
        return {"feeds": out}

    def partitions(self, start: dict, end: dict) -> list[_FeedBlobSlice]:
        workers = self._ensure_workers()
        # checkpoint restart replays the last planned batch with offsets
        # this fresh reader never returned — fold them into the planned
        # frontier so the admission window resumes from the checkpoint,
        # not from zero.
        ends = list(end["feeds"])
        if self._planned is None:
            self._planned = [0] * len(workers)
        self._planned = [max(p, e) for p, e in zip(self._planned, ends)]
        parts = []
        for i, w in enumerate(workers):
            s, e = start["feeds"][i], end["feeds"][i]
            if s > w.peek()[0]:
                # checkpoint restart: a fresh socket numbers from 0 but
                # the engine resumes from committed offset s — baseline
                # the connection there ("continue from now"); see class
                # docstring.
                w.jump(s)
                e = max(e, s)
            _warn_if_lost(self._specs[i]["url"], s, w.peek()[1], e)
            batches = (
                [(r.index, r.n, r.body) for r in w.batches_between(s, e)]
                if e > s
                else []
            )
            w.mark_taken(e)
            parts.append(_FeedBlobSlice(i, s, e, batches))
        return parts

    def read(self, partition: _FeedBlobSlice):
        return partition.batches_iter()

    def commit(self, end: dict) -> None:
        if self._workers is None:
            return
        for i, w in enumerate(self._workers):
            w.prune(end["feeds"][i])

    def stop(self) -> None:
        if self._workers is not None:
            for w in self._workers:
                w.stop()


class MultiWebSocketDataSource(DataSource):
    """``spark.readStream.format("websocket_multi")`` after registration.

    Options: ``urls`` (JSON array) [+ ``subscribes`` JSON array], or
    ``url`` + ``fan_out``; plus the single-connection source's
    ``subscribe``, ``interval``, ``interval_messages``,
    ``reconnect_delay``, ``retention``, ``max_records_per_batch``
    (applied per feed). Output schema adds ``feed_id int``."""

    @classmethod
    def name(cls) -> str:
        return "websocket_multi"

    def schema(self) -> str:
        return _MULTI_SCHEMA_DDL

    def streamReader(self, schema: StructType) -> MultiWebSocketStreamReader:
        return MultiWebSocketStreamReader(dict(self.options))


def register_websocket_multi_source(spark) -> None:
    """Register the N-connection source as ``websocket_multi``."""
    spark.dataSource.register(MultiWebSocketDataSource)

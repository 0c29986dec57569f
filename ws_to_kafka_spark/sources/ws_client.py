"""Minimal RFC 6455 WebSocket client on the Python stdlib.

The container has no ``websockets`` package, so the source speaks the
protocol directly (public spec, RFC 6455): HTTP/1.1 Upgrade handshake with
``Sec-WebSocket-Key``/``Accept`` verification, client-masked frames,
text/binary/ping/pong/close opcodes, 16/64-bit extended lengths.

Semantics mirror the reference client (`/root/reference/src/wsclient.hpp`):

* TLS or plain transport chosen by the URI protocol
  (reference: compile-time socket strategy, ``src/wsclient.cpp:17-54``;
  here: ``ssl.SSLContext`` wrap chosen at connect time);
* handshake timeout 2 s, idle timeout 10 s with auto-ping
  (``src/wsclient.hpp:20-21,141-142``);
* a subscribe message written immediately after the handshake
  (``src/wsclient.hpp:144``);
* the read loop yields one payload per data frame, transparently answering
  pings (``src/wsclient.hpp:206-238``);
* :class:`FeedConnection` owns the 5 s reconnect loop
  (``src/wsclient.hpp:132-168``) and the drift-free interval resend
  (``src/interval_timer.hpp:23-38``) for every reader in this package;
  callers supply only the per-frame step.
"""

from __future__ import annotations

import base64
import hashlib
import os
import socket
import ssl
import struct
import sys
import threading
import time
import traceback
from collections.abc import Callable, Iterator, Sequence
from dataclasses import dataclass

from ..uri import Uri, parse_uri

_WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"

# Reference timing constants (src/wsclient.hpp:20-22).
HANDSHAKE_TIMEOUT_S = 2.0
IDLE_TIMEOUT_S = 10.0
RECONNECT_DELAY_S = 5.0

_OP_CONT, _OP_TEXT, _OP_BINARY = 0x0, 0x1, 0x2
_OP_CLOSE, _OP_PING, _OP_PONG = 0x8, 0x9, 0xA


class WsError(RuntimeError):
    """Connection-level failure; caller decides on reconnect (the reference
    sleeps kErrorDelay=5s and redials, src/wsclient.hpp:158-162)."""


@dataclass
class Frame:
    opcode: int
    payload: bytes


class WsClient:
    """One WebSocket connection: connect → handshake → (write | read-loop).

    Reads are single-threaded (whichever thread iterates :meth:`frames`),
    like the reference's asio loop (src/wsclient.hpp:38-53). Writes may come
    from several threads — the reader's pong replies and idle ping-probes,
    an interval-timer thread, and stop()'s close frame — so every outbound
    frame serializes on one internal lock inside :meth:`send`; the reference
    gets the same guarantee from its single-threaded asio executor. Without
    it, a partially-flushed large frame could interleave with a control
    frame and corrupt the byte stream.
    """

    def __init__(self, url: str, *, ssl_context: ssl.SSLContext | None = None):
        self.uri: Uri = parse_uri(url)
        if self.uri.protocol not in ("ws", "wss"):
            raise ValueError(f"not a websocket url: {url!r}")
        self._ssl_context = ssl_context
        self._sock: socket.socket | None = None
        # read buffer + consume position: _recv_exact OVER-reads the
        # socket in ~64 KiB chunks and serves frames from the buffer, so
        # a high-rate feed costs ~1 recv syscall per buffer fill instead
        # of 2-3 per frame (round 14 — the per-frame syscalls, not the
        # header packing, were the ~145k fps child cap). The position
        # index avoids re-slicing the remainder on every frame.
        self._rbuf = b""  # bytes received past the handshake terminator
        self._rpos = 0
        self._write_lock = threading.Lock()

    # -- connection ---------------------------------------------------------

    def connect(self) -> None:
        """TCP (+TLS) connect and RFC 6455 upgrade handshake."""
        try:
            raw = socket.create_connection(
                (self.uri.host, self.uri.port), timeout=HANDSHAKE_TIMEOUT_S
            )
        except OSError as exc:
            raise WsError(f"connect failed: {exc}") from exc
        if self.uri.protocol == "wss":
            ctx = self._ssl_context or ssl.create_default_context()
            try:
                raw = ctx.wrap_socket(raw, server_hostname=self.uri.host)
            except (OSError, ssl.SSLError) as exc:
                raw.close()
                raise WsError(f"tls handshake failed: {exc}") from exc
        self._sock = raw
        try:
            self._handshake()
        except WsError:
            self.close_socket()
            raise
        # Steady-state: idle timeout governs reads (reference kIdleTimeout).
        self._sock.settimeout(IDLE_TIMEOUT_S)

    def _handshake(self) -> None:
        assert self._sock is not None
        key = base64.b64encode(os.urandom(16)).decode()
        req = (
            f"GET {self.uri.resource} HTTP/1.1\r\n"
            f"Host: {self.uri.host}:{self.uri.port}\r\n"
            "Upgrade: websocket\r\n"
            "Connection: Upgrade\r\n"
            f"Sec-WebSocket-Key: {key}\r\n"
            "Sec-WebSocket-Version: 13\r\n"
            "\r\n"
        )
        try:
            self._sock.sendall(req.encode())
            response = self._read_http_response()
        except OSError as exc:
            raise WsError(f"handshake io error: {exc}") from exc
        status = response.split(b"\r\n", 1)[0]
        # Parse the status-code FIELD (second token) rather than substring-
        # matching the whole line: a reason phrase containing "101" or a
        # nonstandard "1010" code must not count as an upgrade.
        parts = status.split(b" ")
        if len(parts) < 2 or parts[1] != b"101":
            raise WsError(f"handshake rejected: {status!r}")
        accept = base64.b64encode(
            hashlib.sha1((key + _WS_GUID).encode()).digest()
        ).decode()
        headers = {
            line.split(b":", 1)[0].strip().lower(): line.split(b":", 1)[1].strip()
            for line in response.split(b"\r\n")[1:]
            if b":" in line
        }
        if headers.get(b"sec-websocket-accept", b"").decode() != accept:
            raise WsError("bad Sec-WebSocket-Accept")

    def _read_http_response(self) -> bytes:
        assert self._sock is not None
        buf = b""
        while b"\r\n\r\n" not in buf:
            chunk = self._sock.recv(4096)
            if not chunk:
                raise WsError("connection closed during handshake")
            buf += chunk
            if len(buf) > 65536:
                raise WsError("oversized handshake response")
        headers, rest = buf.split(b"\r\n\r\n", 1)
        # The peer may start sending frames in the SAME TCP segment as the
        # 101 response — anything past the header terminator is frame data
        # and must feed the frame reader, not be dropped.
        self._rbuf = rest
        self._rpos = 0
        return headers

    # -- frames -------------------------------------------------------------

    def send(self, payload: str | bytes, *, opcode: int | None = None) -> None:
        """Send one masked data frame (clients MUST mask, RFC 6455 §5.3)."""
        # snapshot: close_socket() may null _sock from another thread
        # between the check and the write; a closed socket raises OSError
        # (→ WsError), but None.sendall would raise AttributeError and
        # escape callers' WsError handling, silently killing their loop
        sock = self._sock
        if sock is None:
            raise WsError("not connected")
        data = payload.encode() if isinstance(payload, str) else payload
        op = opcode if opcode is not None else (
            _OP_TEXT if isinstance(payload, str) else _OP_BINARY
        )
        header = bytearray([0x80 | op])
        n = len(data)
        if n < 126:
            header.append(0x80 | n)
        elif n < 1 << 16:
            header.append(0x80 | 126)
            header += struct.pack(">H", n)
        else:
            header.append(0x80 | 127)
            header += struct.pack(">Q", n)
        mask = os.urandom(4)
        header += mask
        masked = bytes(b ^ mask[i % 4] for i, b in enumerate(data))
        try:
            # One lock around the single sendall: sendall can split into
            # several syscalls when the send buffer fills, and interleaving
            # another thread's frame bytes mid-split corrupts the stream.
            with self._write_lock:
                sock.sendall(bytes(header) + masked)
        except OSError as exc:
            raise WsError(f"write failed: {exc}") from exc

    def _recv_exact(self, n: int) -> bytes:
        # snapshot for the same reason as send(): a concurrent
        # close_socket() must surface as OSError→WsError, never
        # AttributeError on None
        sock = self._sock
        if sock is None:
            raise WsError("not connected")
        buf, pos = self._rbuf, self._rpos
        if len(buf) - pos >= n:  # fast path: served from the buffer
            self._rpos = pos + n
            return buf[pos:pos + n]
        parts = [buf[pos:]] if pos < len(buf) else []
        have = len(buf) - pos
        probed = False
        while have < n:
            try:
                # over-read: recv returns as soon as ANY bytes arrive
                # (no added latency on quiet feeds), and on a hot feed
                # one syscall pulls ~64 KiB of future frames into the
                # buffer instead of exactly this frame's remainder
                chunk = sock.recv(max(n - have, 65536))
            except socket.timeout as exc:
                # Idle timeout → probe with a ping and keep reading; only a
                # SECOND silent interval fails the connection. This is the
                # reference's auto-ping keep-alive (src/wsclient.hpp:20,
                # 141-142: idle pings, and the error path only fires when
                # the peer stays silent) — failing on the FIRST quiet 10 s
                # would tear down and redial perfectly healthy idle feeds.
                if probed:
                    raise WsError("idle timeout (no traffic after ping)") from exc
                self.send(b"", opcode=_OP_PING)
                probed = True
                continue
            except OSError as exc:
                raise WsError(f"read failed: {exc}") from exc
            if not chunk:
                raise WsError("connection closed")
            parts.append(chunk)
            have += len(chunk)
            probed = False
        buf = parts[0] if len(parts) == 1 else b"".join(parts)
        self._rbuf, self._rpos = buf, n
        return buf[:n]

    def read_frame(self) -> Frame:
        """Read one frame, reassembling continuations, answering pings."""
        payload = b""
        opcode = None
        while True:
            b0, b1 = self._recv_exact(2)
            fin, op = b0 & 0x80, b0 & 0x0F
            n = b1 & 0x7F
            if n == 126:
                (n,) = struct.unpack(">H", self._recv_exact(2))
            elif n == 127:
                (n,) = struct.unpack(">Q", self._recv_exact(8))
            if b1 & 0x80:  # masked server frame — tolerated, not required
                mask = self._recv_exact(4)
                data = bytes(
                    b ^ mask[i % 4] for i, b in enumerate(self._recv_exact(n))
                )
            else:
                data = self._recv_exact(n)
            if op == _OP_PING:
                self.send(data, opcode=_OP_PONG)
                continue
            if op == _OP_PONG:
                continue
            if op == _OP_CLOSE:
                return Frame(_OP_CLOSE, data)
            if op in (_OP_TEXT, _OP_BINARY):
                opcode = op
            payload += data
            if fin:
                return Frame(opcode if opcode is not None else _OP_TEXT, payload)

    def frames(self) -> Iterator[bytes]:
        """Yield data-frame payloads until close/error — the reference's
        DoRead/OnRead loop (src/wsclient.hpp:206-238): close ends the loop
        cleanly, errors raise into the caller's reconnect handling."""
        while True:
            frame = self.read_frame()
            if frame.opcode == _OP_CLOSE:
                return
            yield frame.payload

    # -- shutdown -----------------------------------------------------------

    def close(self) -> None:
        """Graceful close: send a close frame, then drop the socket
        (reference posts an async close, src/wsclient.hpp:185-203)."""
        if self._sock is not None:
            try:
                self.send(struct.pack(">H", 1000), opcode=_OP_CLOSE)
            except WsError:
                pass
            self.close_socket()

    def close_socket(self) -> None:
        if self._sock is not None:
            try:
                self._sock.close()
            finally:
                self._sock = None


class FeedConnection:
    """The reference's whole connection policy for one feed: dial →
    subscribe → read, redial after ``reconnect_delay`` on ANY failure
    (``src/wsclient.hpp:132-168``), plus the fixed-rate interval resend
    through the same connection (``src/interval_timer.hpp:23-38``,
    ``src/wsclient.hpp:171-182``).

    A CLEAN server close also redials: the reference's
    ``while(keep_running_)`` wraps the whole connect+run sequence, so only
    :meth:`stop` ends the loop — the feed is expected to be persistent.
    ``on_frame`` is called with each data-frame payload on the reader
    thread; it is the only part that differs between callers.
    """

    def __init__(
        self,
        url: str,
        on_frame: Callable[[bytes], None],
        *,
        subscribe: str | None = None,
        interval: float = 0.0,
        interval_messages: Sequence[str] = (),
        reconnect_delay: float = RECONNECT_DELAY_S,
    ):
        self._url = url
        self._on_frame = on_frame
        self._subscribe = subscribe
        self._interval = interval
        self._interval_messages = tuple(interval_messages)
        self._reconnect_delay = reconnect_delay
        self._stop = threading.Event()
        self._client: WsClient | None = None

    def start(self, name: str = "ws-feed") -> threading.Thread:
        """Start the reader (and, if configured, the interval timer) as
        daemon threads; returns the reader thread."""
        reader = threading.Thread(target=self.run, name=name, daemon=True)
        reader.start()
        if self._interval > 0 and self._interval_messages:
            threading.Thread(
                target=self._run_timer, name=f"{name}-interval", daemon=True
            ).start()
        return reader

    def stop(self) -> None:
        self._stop.set()
        client, self._client = self._client, None
        if client is not None:
            try:
                client.close()
            except Exception:  # noqa: BLE001 — half-dead socket
                pass

    def run(self) -> None:
        on_frame, stop = self._on_frame, self._stop
        while not stop.is_set():
            # constructor INSIDE the try and the finally guarded: a bad
            # URL, a decode bug or an unwrapped OSError must hit the same
            # backoff-redial as a connection loss, never end the reader
            # thread silently while its owner keeps waiting for frames
            client = None
            try:
                client = WsClient(self._url)
                client.connect()
                if self._subscribe:
                    client.send(self._subscribe)
                self._client = client
                for payload in client.frames():
                    on_frame(payload)
                    if stop.is_set():
                        break
            except WsError:
                pass
            except Exception:  # noqa: BLE001 — logged, then redialed
                traceback.print_exc(file=sys.stderr)
                sys.stderr.flush()
            finally:
                self._client = None
                if client is not None:
                    try:
                        client.close_socket()
                    except Exception:  # noqa: BLE001 — half-dead socket
                        pass
            if not stop.is_set():
                stop.wait(self._reconnect_delay)

    def _run_timer(self) -> None:
        """Drift-free fixed-rate resend: deadline += interval, never
        now + interval."""
        interval = self._interval
        deadline = time.monotonic() + interval
        while not self._stop.wait(max(0.0, deadline - time.monotonic())):
            deadline += interval
            client = self._client
            if client is None:
                continue  # disconnected — the reference drops the tick too
            # every frame write (these, the reader's pong/ping replies,
            # stop()'s close) serializes on WsClient's write lock
            for msg in self._interval_messages:
                try:
                    client.send(msg)
                except WsError:
                    break  # write failure is logged-and-dropped in the ref

"""Paced open-loop WebSocket feed generator.

One process, one thread, one ``selectors`` loop. It accepts WebSocket
connections on 127.0.0.1 and serves each one a feed named by its request
path: ``/t/<n>`` is tick feed ``n``, ``/e/<n>`` is events feed ``n``
(see ``frames.py``). A reconnect on the same path starts the feed again
at sequence number 0, which is also the source's offset index.

The generator sends nothing on its own. It reads one JSON command per
line on stdin and answers each with one JSON line on stdout:

* ``{"id": 1, "cmd": "await", "key": "t/0", "gen": 2}`` -- answer once
  connection number ``gen`` (counting from 1) on ``key`` is open.
* ``{"id": 2, "cmd": "send", "keys": ["t/0"], "n": 5000, "rate": 2500}``
  -- send ``n`` frames on each key, frame ``k`` due at ``t0 + k / rate``
  (``rate`` 0: all due at ``t0``, a burst). Open loop: a frame is built
  when it is due, whether or not the client keeps up. The answer, sent
  once every frame has left the process, gives each key's first
  sequence number, ``t0`` and rate, and how late frames were built
  against their due time.
* ``{"id": 3, "cmd": "flush", "key": "e/0"}`` -- send one watermark
  flush event (``EventFrames.flush_frame``).
* ``{"cmd": "quit"}``.

Run: ``python3 perfbench/feedgen.py <seed>``; the first stdout line is
``{"port": <port>}``.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import selectors
import socket
import struct
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from frames import EventFrames, TickFrames  # noqa: E402

_WS_GUID = b"258EAFA5-E914-47DA-95CA-C5AB0DC85B11"
#: A burst is built only while the connection's unsent bytes stay below
#: this, so a 100k-frame burst never sits in memory all at once.
_BURST_HIGH_WATER = 1 << 20
#: Frames built per key per loop turn at most, so one burst cannot
#: starve paced feeds or the command channel.
_MAX_BUILD_PER_TURN = 4096


def ws_header(n: int) -> bytes:
    """Unmasked server text-frame header for an ``n``-byte payload."""
    if n < 126:
        return bytes((0x81, n))
    if n < 1 << 16:
        return bytes((0x81, 126)) + struct.pack(">H", n)
    return bytes((0x81, 127)) + struct.pack(">Q", n)


def now_us() -> int:
    return time.time_ns() // 1000


class _Conn:
    def __init__(self, sock: socket.socket):
        self.sock = sock
        self.inbuf = b""
        self.key: str | None = None
        self.gen = 0
        self.out = bytearray()
        self.next_seq = 0
        self.closed = False


class _Send:
    """One ``send`` command's schedule on one key."""

    def __init__(self, conn: _Conn, n: int, rate: float, t0_us: int):
        self.conn = conn
        self.n = n
        self.rate = rate
        self.t0_us = t0_us
        self.first_seq = conn.next_seq
        self.built = 0

    def due_us(self, k: int) -> int:
        if self.rate <= 0:
            return self.t0_us
        return self.t0_us + int(k * 1_000_000 / self.rate)


class FeedGenerator:
    def __init__(self, seed: int):
        self.seed = seed
        self.shapes = {"t": TickFrames(seed), "e": EventFrames(seed)}
        self.sel = selectors.DefaultSelector()
        self.lsock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self.lsock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.lsock.bind(("127.0.0.1", 0))
        self.lsock.listen(16)
        self.lsock.setblocking(False)
        self.port = self.lsock.getsockname()[1]
        self.sel.register(self.lsock, selectors.EVENT_READ, "listen")
        self.stdin_fd = sys.stdin.fileno()
        os.set_blocking(self.stdin_fd, False)
        self.sel.register(self.stdin_fd, selectors.EVENT_READ, "stdin")
        self.cmdbuf = b""
        self.conns: dict[str, _Conn] = {}
        self.gens: dict[str, int] = {}
        self.awaits: list[dict] = []
        self.jobs: list[dict] = []  # active send commands
        self.running = True

    # -- output ---------------------------------------------------------
    @staticmethod
    def reply(obj: dict) -> None:
        sys.stdout.write(json.dumps(obj) + "\n")
        sys.stdout.flush()

    # -- connections ----------------------------------------------------
    def _accept(self) -> None:
        try:
            sock, _ = self.lsock.accept()
        except BlockingIOError:
            return
        sock.setblocking(False)
        sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        conn = _Conn(sock)
        self.sel.register(sock, selectors.EVENT_READ, conn)

    def _close(self, conn: _Conn) -> None:
        if conn.closed:
            return
        conn.closed = True
        try:
            self.sel.unregister(conn.sock)
        except (KeyError, ValueError):
            pass
        conn.sock.close()
        if conn.key is not None and self.conns.get(conn.key) is conn:
            del self.conns[conn.key]

    def _on_readable(self, conn: _Conn) -> None:
        try:
            data = conn.sock.recv(65536)
        except BlockingIOError:
            return
        except OSError:
            data = b""
        if not data:
            self._close(conn)
            return
        conn.inbuf += data
        if conn.key is None:
            if b"\r\n\r\n" not in conn.inbuf:
                return
            head, conn.inbuf = conn.inbuf.split(b"\r\n\r\n", 1)
            self._handshake(conn, head)
        self._client_frames(conn)

    def _handshake(self, conn: _Conn, head: bytes) -> None:
        lines = head.split(b"\r\n")
        path = lines[0].split(b" ")[1].decode()
        key = b""
        for line in lines[1:]:
            name, _, value = line.partition(b":")
            if name.strip().lower() == b"sec-websocket-key":
                key = value.strip()
        accept = base64.b64encode(hashlib.sha1(key + _WS_GUID).digest())
        conn.out += (
            b"HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\n"
            b"Connection: Upgrade\r\nSec-WebSocket-Accept: " + accept + b"\r\n\r\n"
        )
        conn.key = path.strip("/")
        old = self.conns.get(conn.key)
        if old is not None:
            self._close(old)
        self.gens[conn.key] = self.gens.get(conn.key, 0) + 1
        conn.gen = self.gens[conn.key]
        self.conns[conn.key] = conn
        self._flush(conn)

    def _client_frames(self, conn: _Conn) -> None:
        """Consume client frames: answer pings, close on close."""
        buf = conn.inbuf
        while len(buf) >= 2:
            op, n = buf[0] & 0x0F, buf[1] & 0x7F
            idx = 2
            if n == 126:
                if len(buf) < 4:
                    break
                n, idx = struct.unpack(">H", buf[2:4])[0], 4
            elif n == 127:
                if len(buf) < 10:
                    break
                n, idx = struct.unpack(">Q", buf[2:10])[0], 10
            masked = buf[1] & 0x80
            end = idx + (4 if masked else 0) + n
            if len(buf) < end:
                break
            payload = buf[end - n:end]
            if masked:
                mask = buf[idx:idx + 4]
                payload = bytes(b ^ mask[i % 4] for i, b in enumerate(payload))
            buf = buf[end:]
            if op == 0x9:
                conn.out += bytes((0x8A, len(payload))) + payload
                self._flush(conn)
            elif op == 0x8:
                self._close(conn)
                return
        conn.inbuf = buf

    def _flush(self, conn: _Conn) -> None:
        if conn.closed or not conn.out:
            return
        try:
            sent = conn.sock.send(conn.out)
        except BlockingIOError:
            sent = 0
        except OSError:
            self._close(conn)
            return
        del conn.out[:sent]
        events = selectors.EVENT_READ | (selectors.EVENT_WRITE if conn.out else 0)
        self.sel.modify(conn.sock, events, conn)

    # -- commands -------------------------------------------------------
    def _on_stdin(self) -> None:
        try:
            data = os.read(self.stdin_fd, 65536)
        except BlockingIOError:
            return
        if not data:
            self.running = False
            return
        self.cmdbuf += data
        while b"\n" in self.cmdbuf:
            line, self.cmdbuf = self.cmdbuf.split(b"\n", 1)
            if line.strip():
                self._command(json.loads(line))

    def _command(self, cmd: dict) -> None:
        kind = cmd["cmd"]
        if kind == "quit":
            self.running = False
        elif kind == "await":
            self.awaits.append(cmd)
        elif kind == "flush":
            conn = self.conns[cmd["key"]]
            seq, due = conn.next_seq, now_us()
            payload = self.shapes["e"].flush_frame(seq, due)
            conn.next_seq += 1
            conn.out += ws_header(len(payload)) + payload
            self._flush(conn)
            self.reply({"id": cmd.get("id"), "seq": seq, "due_us": due})
        elif kind == "send":
            missing = [k for k in cmd["keys"] if k not in self.conns]
            if missing:
                self.reply({"id": cmd.get("id"), "error": f"not connected: {missing}"})
                return
            t0 = now_us()
            sends = {}
            for k in cmd["keys"]:
                conn = self.conns[k]
                s = _Send(conn, int(cmd["n"]), float(cmd.get("rate", 0)), t0)
                conn.next_seq += s.n  # reserve the sequence range
                sends[k] = s
            self.jobs.append({"cmd": cmd, "sends": sends, "lags": []})
        else:
            self.reply({"id": cmd.get("id"), "error": f"unknown command {kind!r}"})

    def _check_awaits(self) -> None:
        still = []
        for a in self.awaits:
            conn = self.conns.get(a["key"])
            if conn is not None and conn.gen >= int(a.get("gen", 1)):
                self.reply({"id": a.get("id"), "gen": conn.gen})
            else:
                still.append(a)
        self.awaits = still

    # -- frame production ----------------------------------------------
    def _produce(self) -> float:
        """Build every frame that is due; return seconds to the next due
        frame (capped), for the selector timeout."""
        wait = 0.05
        t = now_us()
        done = []
        for job in self.jobs:
            finished = True
            for key, s in job["sends"].items():
                conn = s.conn
                if conn.closed:
                    continue  # the client went away: its frames are lost
                shape = self.shapes[key[0]]
                feed = int(key.split("/")[1])
                built = 0
                while s.built < s.n and built < _MAX_BUILD_PER_TURN:
                    if s.rate <= 0:
                        if len(conn.out) > _BURST_HIGH_WATER:
                            break
                    else:
                        due = s.due_us(s.built)
                        if due > t:
                            wait = min(wait, (due - t) / 1e6)
                            break
                        job["lags"].append(t - due)
                    due = s.due_us(s.built)
                    payload = shape.frame(feed, s.first_seq + s.built, due)
                    conn.out += ws_header(len(payload))
                    conn.out += payload
                    s.built += 1
                    built += 1
                if built:
                    self._flush(conn)
                if s.built < s.n or conn.out:
                    finished = False
                    if s.built < s.n and (s.rate <= 0 or built == _MAX_BUILD_PER_TURN):
                        wait = 0.0
            if finished:
                done.append(job)
        for job in done:
            self.jobs.remove(job)
            lags = sorted(job["lags"]) or [0]
            pick = lambda q: lags[min(len(lags) - 1, int(q * len(lags)))] / 1000.0  # noqa: E731
            self.reply({
                "id": job["cmd"].get("id"),
                "done_us": now_us(),
                "per_key": {
                    k: {
                        "first_seq": s.first_seq,
                        "n": s.n,
                        "t0_us": s.t0_us,
                        "rate": s.rate,
                        "lost": s.conn.closed,
                    }
                    for k, s in job["sends"].items()
                },
                "lag_ms_p50": pick(0.5),
                "lag_ms_p99": pick(0.99),
                "lag_ms_max": lags[-1] / 1000.0,
            })
        return wait

    def run(self) -> None:
        self.reply({"port": self.port})
        while self.running:
            timeout = self._produce()
            for key, mask in self.sel.select(timeout):
                tag = key.data
                if tag == "listen":
                    self._accept()
                elif tag == "stdin":
                    self._on_stdin()
                else:
                    if mask & selectors.EVENT_READ:
                        self._on_readable(tag)
                    if mask & selectors.EVENT_WRITE:
                        self._flush(tag)
            self._check_awaits()
        for conn in list(self.conns.values()):
            self._close(conn)
        self.lsock.close()


def main(argv: list[str]) -> int:
    FeedGenerator(int(argv[1])).run()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))

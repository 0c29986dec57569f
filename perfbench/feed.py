"""Parent-side handle on the ``feedgen.py`` generator process."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading

_HERE = os.path.dirname(os.path.abspath(__file__))


class Feed:
    """Starts the generator, sends it commands, collects its answers.

    Use as a context manager: the process is always stopped and waited
    for on exit."""

    def __init__(self, seed: int):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(_HERE, "feedgen.py"), str(seed)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
            bufsize=1,
        )
        first = self.proc.stdout.readline()
        if not first:
            self.close()
            raise RuntimeError("feed generator did not start")
        self.port = json.loads(first)["port"]
        self._next_id = 0
        self._answers: dict[int, dict] = {}
        self._cv = threading.Condition()
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def url(self, key: str) -> str:
        return f"ws://127.0.0.1:{self.port}/{key}"

    def _read(self) -> None:
        for line in self.proc.stdout:
            msg = json.loads(line)
            with self._cv:
                self._answers[msg.get("id")] = msg
                self._cv.notify_all()
        with self._cv:
            self._cv.notify_all()

    def submit(self, cmd: dict) -> int:
        """Send ``cmd`` without waiting; returns its id for :meth:`wait`."""
        with self._cv:
            self._next_id += 1
            cid = self._next_id
        self.proc.stdin.write(json.dumps(dict(cmd, id=cid)) + "\n")
        self.proc.stdin.flush()
        return cid

    def wait(self, cid: int, timeout: float = 120.0) -> dict:
        with self._cv:
            ok = self._cv.wait_for(
                lambda: cid in self._answers or self.proc.poll() is not None,
                timeout,
            )
            if cid not in self._answers:
                raise RuntimeError(
                    f"feed generator gave no answer to command {cid}"
                    + ("" if ok else f" within {timeout} s")
                )
            msg = self._answers.pop(cid)
        if "error" in msg:
            raise RuntimeError(f"feed generator: {msg['error']}")
        return msg

    def call(self, cmd: dict, timeout: float = 120.0) -> dict:
        return self.wait(self.submit(cmd), timeout)

    def close(self) -> None:
        try:
            if self.proc.poll() is None:
                self.proc.stdin.write('{"cmd": "quit"}\n')
                self.proc.stdin.flush()
            self.proc.stdin.close()
        except (BrokenPipeError, OSError, ValueError):
            pass
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()

    def __enter__(self) -> "Feed":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

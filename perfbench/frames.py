"""Deterministic frame contents for the benchmark feeds.

Every frame is a pure function of ``(seed, feed, seq, due_us)``, so the
generator process and the output checks build byte-identical frames
without sharing any state. Two shapes:

* ``ticks``  -- order-book ticks, about 150 B; one frame in a hundred is
  an 8 KiB depth snapshot (the 16-bit WebSocket length path).
* ``events`` -- about 1 KiB JSON events with a Zipf-skewed ``user_id``,
  a fixed share of duplicates, of out-of-order event times within the
  watermark, and of far-late event times that any watermark drops.
"""

from __future__ import annotations

import bisect
import json
import random
from dataclasses import dataclass

#: Event-time origin of the ``events`` feeds (epoch microseconds,
#: 2024-01-01T00:00:00Z).
T0_US = 1_704_067_200_000_000
#: Event time advances this much per sequence number on each feed; the
#: largest run stays under 150k frames per feed, i.e. under 40 minutes of
#: event time -- less than the watermark, so no on-time event is ever late.
STEP_US = 15_000
#: Out-of-order frames move back in event time by at most this much.
MAX_JITTER_US = 5 * 60 * 1_000_000
#: Far-late frames sit this far before ``T0_US``: behind any watermark
#: once a batch carrying ``T0_US`` or later has committed.
FAR_LATE_US = 24 * 3600 * 1_000_000
#: Window and watermark of the stateful workload.
WINDOW = "10 seconds"
WINDOW_US = 10 * 1_000_000
WATERMARK = "1 hour"
#: Frames below this sequence number are never far-late: they travel in
#: the set-up and warm-up batches, before the watermark has advanced.
FAR_LATE_MIN_SEQ = 8000

DUP_PERCENT = 3
OOO_PERCENT = 5
FAR_LATE_PER_MILLE = 1
SNAPSHOT_PERCENT = 1

_EVENT_TYPES = ("view", "click", "cart", "purchase", "error", "signup")
_SYMBOLS = ("BTC-USD", "ETH-USD", "SOL-USD", "XRP-USD", "ADA-USD", "DOGE-USD")


_M64 = 0xFFFFFFFFFFFFFFFF


def _splitmix(z: int) -> int:
    """The splitmix64 output function: a 64-bit integer hash."""
    z = (z ^ (z >> 30)) * 0xBF58476D1CE4E5B9 & _M64
    z = (z ^ (z >> 27)) * 0x94D049BB133111EB & _M64
    return z ^ (z >> 31)


def _mix(*parts: int) -> int:
    """A hash of several integers."""
    h = 0
    for p in parts:
        h = _splitmix((h ^ p) + 0x9E3779B97F4A7C15 & _M64)
    return h


class _SeqHash:
    """``h(seq)`` for one (seed, feed, salt): one splitmix64 step per call,
    so building a frame costs about a microsecond of hashing."""

    def __init__(self, *key: int):
        self._base = _mix(*key)

    def __call__(self, seq: int) -> int:
        return _splitmix(self._base + seq * 0x9E3779B97F4A7C15 & _M64)


class _Frames:
    def __init__(self, seed: int):
        self.seed = seed
        self._hashes: dict[tuple[int, int], _SeqHash] = {}

    def _hash(self, feed: int, salt: int) -> _SeqHash:
        h = self._hashes.get((feed, salt))
        if h is None:
            h = self._hashes[(feed, salt)] = _SeqHash(self.seed, feed, salt)
        return h


class TickFrames(_Frames):
    """Order-book tick frames for one seed."""

    def __init__(self, seed: int):
        super().__init__(seed)
        rng = random.Random(seed)
        self._snapshots = []
        for i in range(8):
            levels = [
                [f"{60000 + rng.random() * 100:.2f}", f"{rng.random() * 3:.4f}"]
                for _ in range(360)
            ]
            self._snapshots.append(
                json.dumps(
                    {"bids": levels[:180], "asks": levels[180:]},
                    separators=(",", ":"),
                )
            )

    def frame(self, feed: int, seq: int, due_us: int) -> bytes:
        h = self._hash(feed, 0)(seq)
        sym = _SYMBOLS[h % len(_SYMBOLS)]
        if (h >> 8) % 100 < SNAPSHOT_PERCENT:
            book = self._snapshots[(h >> 16) % len(self._snapshots)]
            return (
                f'{{"seq":{seq},"due_us":{due_us},"type":"snapshot",'
                f'"sym":"{sym}","book":{book}}}'
            ).encode()
        px = 60000 + (h >> 20) % 1000000 / 100
        qty = (h >> 40) % 100000 / 10000
        side = "b" if h & 1 else "a"
        return (
            f'{{"seq":{seq},"due_us":{due_us},"type":"tick","venue":"ex{feed}",'
            f'"sym":"{sym}","side":"{side}","px":"{px:.2f}","qty":"{qty:.4f}",'
            f'"trade_id":{h >> 24},"flags":"00000000"}}'
        ).encode()


@dataclass(frozen=True)
class Event:
    event_id: int
    user_id: int
    event_type: str
    ts_us: int
    value: float
    far_late: bool


class EventFrames(_Frames):
    """Events-shaped frames (about 1 KiB) for one seed."""

    #: Number of distinct users; ``user_id`` follows Zipf(1.1) over them.
    N_USERS = 10_000

    def __init__(self, seed: int):
        super().__init__(seed)
        rng = random.Random(seed ^ 0x5EED)
        weights = [1.0 / (k**1.1) for k in range(1, self.N_USERS + 1)]
        total = sum(weights)
        acc, cdf = 0.0, []
        for w in weights:
            acc += w
            cdf.append(acc / total)
        self._cdf = cdf
        # user ids are a seeded permutation, so the hottest user differs by seed
        self._users = list(range(self.N_USERS))
        rng.shuffle(self._users)
        self._pad = "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(1000))

    def _user(self, h: int) -> int:
        u = (h % 1_000_000_007) / 1_000_000_007
        return self._users[min(bisect.bisect_left(self._cdf, u), self.N_USERS - 1)]

    def _own_event(self, feed: int, seq: int) -> Event:
        h = self._hash(feed, 1)(seq)
        ts = T0_US + seq * STEP_US
        far_late = seq >= FAR_LATE_MIN_SEQ and (h >> 8) % 1000 < FAR_LATE_PER_MILLE
        if far_late:
            ts = T0_US - FAR_LATE_US - (h >> 24) % 3_600_000_000
        elif (h >> 20) % 100 < OOO_PERCENT:
            ts -= 1 + (h >> 28) % MAX_JITTER_US
        return Event(
            event_id=feed * 1_000_000_000 + seq,
            user_id=self._user(h >> 32),
            event_type=_EVENT_TYPES[(h >> 12) % len(_EVENT_TYPES)],
            ts_us=ts,
            value=((h >> 40) % 100000) / 100,
            far_late=far_late,
        )

    def event(self, feed: int, seq: int) -> Event:
        """The event frame ``seq`` carries: a duplicate repeats the event
        of an earlier frame on the same feed, byte for byte apart from the
        frame's own ``seq`` and ``due_us``."""
        while seq >= 8:
            h = self._hash(feed, 2)(seq)
            if h % 100 >= DUP_PERCENT:
                break
            seq -= 1 + (h >> 8) % 8
        return self._own_event(feed, seq)

    def frame(self, feed: int, seq: int, due_us: int) -> bytes:
        e = self.event(feed, seq)
        return (
            f'{{"seq":{seq},"due_us":{due_us},"event_id":{e.event_id},'
            f'"user_id":{e.user_id},"event_type":"{e.event_type}",'
            f'"ts_us":{e.ts_us},"value":{e.value},'
            f'"props":"{self._pad[: 880 + seq % 100]}"}}'
        ).encode()

    def flush_frame(self, seq: int, due_us: int) -> bytes:
        """An event far in the event-time future: it moves the watermark
        past every window, so append mode emits them all."""
        ts = T0_US + 10 * 24 * 3600 * 1_000_000
        return (
            f'{{"seq":{seq},"due_us":{due_us},"event_id":-1,"user_id":-1,'
            f'"event_type":"flush","ts_us":{ts},"value":0.0,"props":""}}'
        ).encode()


#: Spark DDL of the JSON ``events`` frames.
EVENT_SCHEMA = (
    "seq long, due_us long, event_id long, user_id long, event_type string, "
    "ts_us long, value double, props string"
)

"""The two streaming workloads.

``ws_forward``: the reference's whole program -- ``build_stream`` with
production defaults (no trigger, no admission cap) over one tick feed,
into a memory sink that keeps every row.

``ws_sharded_stateful``: ``websocket_multi`` (process reader mode) over
two event feeds, then ``from_json``, ``ops.streaming_dedup`` and a
tumbling event-time window count, into an append memory sink.

Each run: start the query and wait for its first committed batch, warm
up with an unmeasured open loop at the high rate, then measure open loops
at the low and the high rate (in alternating rounds on ws_forward), and
the bursts.
Every frame carries its sequence number, which is also its offset index
in the source, so each frame maps to the microbatch that admitted it and
to that batch's commit time (``timestamp + durationMs.triggerExecution``
in the query progress).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from dataclasses import dataclass
from datetime import datetime

import numpy as np

from frames import (
    EVENT_SCHEMA, FAR_LATE_MIN_SEQ, WATERMARK, WINDOW, WINDOW_US, EventFrames, TickFrames,
)

#: Static record key of the forwarded stream (the reference's config ``key``).
RECORD_KEY = "bench-key"
#: Seconds between polls of the query's progress.
POLL_S = 0.02


@dataclass(frozen=True)
class StreamSpec:
    name: str
    keys: tuple[str, ...]
    #: offered rates, frames/s over all feeds
    rate_low: float
    rate_high: float
    #: burst size, frames over all feeds (each feed stays below the
    #: source's 100k-frame default retention), and bursts per run
    burst: int
    bursts: int
    #: low and high phase lengths as shares of ``--seconds``; the stateful
    #: query runs few, long batches, so its low phase is longer
    phase_shares: tuple[float, float]
    #: rounds the low and high phases are split into; each round is
    #: drained, so more rounds spread a phase over more of the run at the
    #: cost of one drain each (cheap on ws_forward, seconds on the
    #: stateful query)
    rounds: int


# Offered rates are fixed numbers, about 1/10 and 1/2 of the drain capacity
# (``drain_fps``) measured on a 4-core x86 host when the benchmark was
# defined (see README.md): ws_forward drains about 50k frames/s,
# ws_sharded_stateful about 5k. BENCHMARK.json repeats them in each
# workload's ``why``.
FORWARD = StreamSpec("ws_forward", ("t/0",), 5_000, 25_000, 50_000, 5, (0.45, 0.45), 3)
SHARDED = StreamSpec("ws_sharded_stateful", ("e/0", "e/1"), 500, 2_500, 20_000, 1, (1.0, 0.8), 1)

#: Frames sent at set-up on ws_forward: its single-connection reader
#: commits a first batch only once data arrived (the multi-feed reader
#: commits an empty first batch on its own).
WARM_FRAMES = 100


def pct(values, q: float) -> float:
    """The ``q``-th percentile (linear interpolation); 0.0 for no values."""
    arr = np.asarray(values, dtype=float)
    if arr.size == 0:
        return 0.0
    return float(np.percentile(arr, q))


def _epoch_us(iso: str) -> int:
    """Progress timestamps look like ``2026-10-16T17:55:20.123Z``."""
    return int(datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1e6)


def _offsets(p: dict) -> list[int]:
    end = p["sources"][0]["endOffset"]
    if isinstance(end, str):
        end = json.loads(end)
    return list(end["feeds"]) if "feeds" in end else [end["index"]]


class StreamRun:
    """One streaming workload run against a started feed generator:
    :meth:`setup`, :meth:`measure`, then :meth:`check`."""

    def __init__(self, spark, feed, name: str, seed: int, seconds: float, workdir: str,
                 tracer):
        self.spark = spark
        self.feed = feed
        self.spec = FORWARD if name == FORWARD.name else SHARDED
        self.seed = seed
        self.seconds = seconds
        self.workdir = workdir
        self.tracer = tracer
        self.query = None
        self.qname = self.spec.name
        self.sends: list[dict] = []  # generator answers of the live query
        self.flush_seq: int | None = None
        self.setup_s = 0.0
        self.progress: list[dict] = []  # every query progress, saved with the trace

    # -- query ------------------------------------------------------------
    def _start_query(self):
        from pyspark.sql import functions as F

        ckpt = os.path.join(self.workdir, f"ckpt-{self.qname}")
        shutil.rmtree(ckpt, ignore_errors=True)
        if self.spec is FORWARD:
            from ws_to_kafka_spark.config import PipelineConfig
            from ws_to_kafka_spark.streaming.pipeline import start_pipeline

            cfg = PipelineConfig(
                url=self.feed.url(self.spec.keys[0]), brokers="", topic="bench",
                key=RECORD_KEY,
            )
            return start_pipeline(
                self.spark, cfg, ckpt, sink_format="memory", query_name=self.qname
            )
        from ws_to_kafka_spark.sources.websocket import register_websocket_multi_source
        from ws_to_kafka_spark.streaming.ops import streaming_dedup

        register_websocket_multi_source(self.spark)
        raw = (
            self.spark.readStream.format("websocket_multi")
            .option("urls", json.dumps([self.feed.url(k) for k in self.spec.keys]))
            .load()
        )
        events = (
            raw.select(F.from_json(F.col("value").cast("string"), EVENT_SCHEMA).alias("e"))
            .select("e.*")
            .withColumn("ts", F.timestamp_micros("ts_us"))
        )
        deduped = streaming_dedup(events, ["user_id", "event_id"], watermark=WATERMARK)
        # ops.watermarked_tumbling_counts re-declares the watermark, which
        # Spark 4 rejects after streaming_dedup ("Redefining watermark is
        # disallowed"), so the same window count is spelled out here.
        counts = (
            deduped.groupBy(F.window("ts", WINDOW))
            .agg(F.count("*").alias("n_events"))
            .select(F.col("window.start").alias("window_start"), "n_events")
        )
        return (
            counts.writeStream.format("memory").queryName(self.qname)
            .outputMode("append").option("checkpointLocation", ckpt).start()
        )

    # The polls below read progress as one JSON string from the JVM: the
    # ``lastProgress``/``recentProgress`` properties convert every field
    # with its own gateway call, which at a 20 ms poll would load the
    # driver the benchmark is measuring.
    def recent_progress(self) -> list[dict]:
        return [json.loads(p.json()) for p in self.query._jsq.recentProgress()]

    def last_progress(self) -> dict | None:
        p = self.query._jsq.lastProgress()
        return None if p is None else json.loads(p.json())

    def _poll(self) -> dict | None:
        """The last progress; raises if the query has failed."""
        if self.query.exception() is not None:
            raise RuntimeError(f"query failed: {self.query.exception()}")
        time.sleep(POLL_S)
        return self.last_progress()

    def _await_offsets(self, target: list[int], timeout: float = 60.0) -> None:
        deadline = time.monotonic() + timeout
        while True:
            p = self._poll()
            committed = _offsets(p) if p is not None else [0] * len(target)
            if all(c >= t for c, t in zip(committed, target)):
                return
            if time.monotonic() > deadline:
                raise RuntimeError(
                    f"{self.spec.name}: offsets {committed} never reached {target}"
                )

    def _send(self, n_total: int, rate_total: float, timeout: float = 120.0) -> dict:
        k = len(self.spec.keys)
        ans = self.feed.call(
            {"cmd": "send", "keys": list(self.spec.keys), "n": n_total // k,
             "rate": rate_total / k},
            timeout,
        )
        if any(v["lost"] for v in ans["per_key"].values()):
            raise RuntimeError(f"{self.spec.name}: a feed connection dropped")
        self.sends.append(ans)
        return ans

    def _sent_ends(self) -> list[int]:
        last = self.sends[-1]["per_key"]
        return [last[k]["first_seq"] + last[k]["n"] for k in self.spec.keys]

    # -- set-up -------------------------------------------------------------
    def setup(self, t_process: float) -> None:
        """Start the query and wait for its first committed batch;
        ``setup_s`` runs from ``t_process`` (process start, ``perf_counter``
        clock) to that batch."""
        try:
            with self.tracer.span("setup.query"):
                self.query = self._start_query()
                for key in self.spec.keys:
                    self.feed.call({"cmd": "await", "key": key})
                if self.spec is FORWARD:
                    self._send(WARM_FRAMES, 0)
                while self._poll() is None:
                    pass
            self.setup_s = time.perf_counter() - t_process
        except BaseException:
            self.stop()
            raise

    def measure(self) -> tuple[dict, dict]:
        """Warm up, run the measured phases and stop the query; returns
        the (end-to-end, per-layer) metrics. The outputs are checked
        afterwards by :meth:`check`."""
        try:
            self.warm_up(max(1.0, 0.2 * self.seconds))
            t_ref_us, t_ref_perf = time.time_ns() // 1000, time.perf_counter()
            phases = self.run_phases(self.seconds)
            self.finish()
            self.progress = self.recent_progress()
        finally:
            self.stop()
        e2e, layer = stream_metrics(self, phases, self.progress)
        e2e["setup_s"] = self.setup_s
        if self.tracer.enabled:
            add_microbatch_spans(self.tracer, self.progress, t_ref_us, t_ref_perf)
        return e2e, layer

    def check(self) -> tuple[int, int, list[str]]:
        """(attempted, failed, notes) of the output checks."""
        if self.spec is FORWARD:
            return check_forward(self.spark, self.qname, self.seed, self.sends, self.spec.keys[0])
        return check_sharded(self.spark, self.qname, self.seed, self.sends, self.spec.keys,
                             self.progress, self.flush_seq)

    def warm_up(self, seconds: float) -> None:
        """An unmeasured open loop at the high rate, so the JIT and the
        Python workers are warm before the measured phases."""
        n = int(self.spec.rate_high * seconds)
        if self.spec is SHARDED and self.sends:
            raise ValueError("far-late frames need the warm-up to be the first data")
        if self.spec is SHARDED and n // len(self.spec.keys) >= FAR_LATE_MIN_SEQ:
            raise ValueError("warm-up would send far-late frames before the watermark moved")
        self._settle()
        with self.tracer.span("warm_up"):
            self._send(n, self.spec.rate_high, timeout=seconds + 60)
            self._await_offsets(self._sent_ends())

    def _settle(self, timeout: float = 10.0) -> None:
        """Wait until no trigger is running (e.g. the no-data batch that
        follows a watermark move), so each phase starts from idle."""
        deadline = time.monotonic() + timeout
        while self.query._jsq.status().isTriggerActive() and time.monotonic() < deadline:
            time.sleep(POLL_S)

    # -- measured phases ------------------------------------------------------
    def run_phases(self, seconds: float) -> dict:
        """``spec.rounds`` rounds of low rate then high rate, then the
        bursts: lists of generator answers under ``low``, ``high`` and
        ``bursts``. Each send is drained (every frame committed) before the
        next starts. A phase's latency pools the frames of all its rounds,
        so a slow spell of the shared host weighs on one round, not on the
        whole phase."""
        out = {"low": [], "high": [], "bursts": []}
        for _ in range(self.spec.rounds):
            for name, rate, share in (("low", self.spec.rate_low, self.spec.phase_shares[0]),
                                      ("high", self.spec.rate_high, self.spec.phase_shares[1])):
                phase_s = max(0.5, share * seconds / self.spec.rounds)
                self._settle()
                with self.tracer.span(f"phase.{name}"):
                    out[name].append(self._send(int(rate * phase_s), rate, timeout=phase_s + 60))
                    self._await_offsets(self._sent_ends())
        for _ in range(self.spec.bursts):
            self._settle()
            with self.tracer.span("phase.burst"):
                out["bursts"].append(self._send(self.spec.burst, 0))
                self._await_offsets(self._sent_ends())
        return out

    def finish(self, timeout: float = 30.0) -> None:
        """Stateful workload: move the watermark past every window and wait
        for the batch that emits them (one batch after the flush frame's).
        Every batch of this query lasts longer than a poll, so none is
        missed."""
        if self.spec is not SHARDED:
            return
        self.flush_seq = self.feed.call({"cmd": "flush", "key": self.spec.keys[0]})["seq"]
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            p = self._poll()
            if (p is not None and _offsets(p)[0] > self.flush_seq
                    and p.get("sink", {}).get("numOutputRows", 0) > 0):
                return
        raise RuntimeError("the watermark flush emitted no windows")

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()


# ---------------------------------------------------------------------------
# Latency from offsets
# ---------------------------------------------------------------------------

def batch_table(progress: list[dict], n_keys: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(end offsets [batches x keys], commit epoch-us, trigger-start epoch-us)
    of the batches that admitted data, in batch order."""
    ends, commits, starts = [], [], []
    for p in progress:
        if not p.get("numInputRows"):
            continue
        start = _epoch_us(p["timestamp"])
        ends.append(_offsets(p))
        starts.append(start)
        commits.append(start + int(p["durationMs"]["triggerExecution"]) * 1000)
    if not ends:
        return np.zeros((0, n_keys), np.int64), np.zeros(0, np.int64), np.zeros(0, np.int64)
    return np.array(ends, np.int64), np.array(commits, np.int64), np.array(starts, np.int64)


def due_times(send: dict) -> np.ndarray:
    """Due time of each frame of one generator send, as ``feedgen`` computes it."""
    n, rate = send["n"], send["rate"]
    if rate <= 0:
        return np.full(n, send["t0_us"], np.int64)
    return send["t0_us"] + (np.arange(n) * 1_000_000 / rate).astype(np.int64)


def frame_latencies_ms(ans: dict, keys, ends: np.ndarray, commits: np.ndarray) -> np.ndarray:
    """Due-to-commit latency (ms) of every frame of one generator answer.
    A frame with sequence number ``s`` on feed ``i`` is in the first
    batch whose end offset for feed ``i`` exceeds ``s``."""
    out = []
    for i, key in enumerate(keys):
        send = ans["per_key"][key]
        seqs = send["first_seq"] + np.arange(send["n"])
        idx = np.searchsorted(ends[:, i], seqs, side="right")
        if len(idx) and idx.max() >= len(commits):
            raise RuntimeError(f"frame {seqs[idx.argmax()]} on {key} was never committed")
        out.append((commits[idx] - due_times(send)) / 1000.0)
    return np.concatenate(out)


def lag_frames(sends: list[dict], keys, ends: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """Frames due by each trigger's start minus the end offset it admitted
    (``sends`` must hold every send of the query so far)."""
    due_by = np.zeros(len(starts), np.int64)
    for ans in sends:
        for key in keys:
            d = due_times(ans["per_key"][key])
            due_by += np.searchsorted(d, starts, side="right")
    return due_by - ends.sum(axis=1)


# ---------------------------------------------------------------------------
# Output checks
# ---------------------------------------------------------------------------

_SEQ_RE = re.compile(rb'^\{"seq":(\d+),')


def check_forward(spark, qname: str, seed: int, sends: list[dict], key: str) -> tuple[int, int, list[str]]:
    """Every sent frame is in the sink exactly once, byte-identical, with
    the record key and a timestamp. Returns (attempted, failed, notes)."""
    frames = TickFrames(seed)
    expected: dict[int, bytes] = {}
    for ans in sends:
        send = ans["per_key"][key]
        for k, due in enumerate(due_times(send).tolist()):
            seq = send["first_seq"] + k
            expected[seq] = frames.frame(0, seq, due)
    table = spark.table(qname).toArrow()
    values = table.column("value").to_pylist()
    keys = table.column("key").to_pylist()
    stamps = table.column("timestamp").null_count
    seen: dict[int, int] = {}
    bad = 0
    for v in values:
        m = _SEQ_RE.match(v)
        seq = int(m.group(1)) if m else -1
        seen[seq] = seen.get(seq, 0) + 1
        if expected.get(seq) != v:
            bad += 1
    lost = sum(1 for s in expected if s not in seen)
    dup = sum(c - 1 for c in seen.values() if c > 1)
    wrong_key = sum(1 for k in keys if k != RECORD_KEY)
    notes = []
    for label, n in (("lost", lost), ("duplicated", dup), ("not byte-identical", bad),
                     ("wrong key", wrong_key), ("null timestamp", stamps)):
        if n:
            notes.append(f"{n} frames {label}")
    return len(expected), lost + dup + bad + wrong_key + stamps, notes


def check_sharded(spark, qname: str, seed: int, sends: list[dict], keys, progress: list[dict],
                  flush_seq: int | None) -> tuple[int, int, list[str]]:
    """Every frame was admitted exactly once, and the emitted window counts
    and far-late drops equal a reference computation over the generated
    events. Returns (attempted, failed, notes)."""
    frames = EventFrames(seed)
    n_sent = [0] * len(keys)
    windows: dict[int, int] = {}
    seen_ids: set[tuple[int, int]] = set()
    far_late = 0
    for ans in sends:
        for i, key in enumerate(keys):
            send = ans["per_key"][key]
            n_sent[i] = max(n_sent[i], send["first_seq"] + send["n"])
            for seq in range(send["first_seq"], send["first_seq"] + send["n"]):
                e = frames.event(i, seq)
                if e.far_late:
                    far_late += 1
                    continue
                ident = (e.user_id, e.event_id)
                if ident in seen_ids:
                    continue
                seen_ids.add(ident)
                w = e.ts_us - e.ts_us % WINDOW_US
                windows[w] = windows.get(w, 0) + 1
    if flush_seq is not None:
        n_sent[0] = max(n_sent[0], flush_seq + 1)
    rows_in = sum(int(p.get("numInputRows") or 0) for p in progress)
    admitted = _offsets(progress[-1]) if progress else [0] * len(keys)
    dropped = sum(
        int(op.get("numRowsDroppedByWatermark") or 0)
        for p in progress for op in p.get("stateOperators", [])
        if op.get("operatorName") == "dedupeWithinWatermark"
    )
    got = {
        int(r["window_start"].timestamp() * 1e6) if hasattr(r["window_start"], "timestamp")
        else int(r["window_start"]): int(r["n_events"])
        for r in spark.table(qname).collect()
    }
    notes = []
    frame_errors = abs(rows_in - sum(n_sent)) + sum(abs(a - s) for a, s in zip(admitted, n_sent))
    if frame_errors:
        notes.append(f"admitted {admitted} / {rows_in} rows, sent {n_sent}")
    wrong = sum(1 for w, c in windows.items() if got.get(w) != c)
    extra = sum(1 for w in got if w not in windows)
    if wrong or extra:
        notes.append(f"{wrong} windows wrong or missing, {extra} unexpected")
    drop_err = abs(dropped - far_late)
    if drop_err:
        notes.append(f"dropped {dropped} late rows, expected {far_late}")
    attempted = sum(n_sent) + len(windows)
    return attempted, frame_errors + wrong + extra + (1 if drop_err else 0), notes


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------

def stream_metrics(run: StreamRun, phases: dict, progress: list[dict]) -> tuple[dict, dict]:
    """(end-to-end values, per-layer values) of one streaming run."""
    keys = run.spec.keys
    ends, commits, starts = batch_table(progress, len(keys))
    e2e = {}
    for name in ("low", "high"):
        lat = np.concatenate([frame_latencies_ms(a, keys, ends, commits) for a in phases[name]])
        e2e[f"latency_p50_ms.{name}"] = pct(lat, 50)
        e2e[f"latency_p99_ms.{name}"] = pct(lat, 99)
    # all bursts pooled: a burst drains in a few batches, so one burst's
    # figure jumps with their count; pooling averages the jumps, where a
    # median of a few bursts would take one of them whole
    drain_us = 0
    for burst in phases["bursts"]:
        t0 = min(v["t0_us"] for v in burst["per_key"].values())
        last_commit = max(
            int(commits[np.searchsorted(ends[:, i], v["first_seq"] + v["n"] - 1, side="right")])
            for i, v in enumerate(burst["per_key"][k] for k in keys)
        )
        drain_us += last_commit - t0
    e2e["drain_fps"] = run.spec.burst * len(phases["bursts"]) / (drain_us / 1e6)

    # per-layer: the measured phases' data batches only; the backlog at
    # the triggers of the paced phases (a burst is all due at once)
    bursts_t0 = min(v["t0_us"] for v in phases["bursts"][0]["per_key"].values())
    low_t0 = min(v["t0_us"] for v in phases["low"][0]["per_key"].values())
    paced = (starts >= low_t0) & (starts < bursts_t0)
    paced_lag = lag_frames(run.sends, keys, ends, starts)[paced]
    first_seq = [phases["low"][0]["per_key"][k]["first_seq"] for k in keys]
    in_run = [
        p for p in progress
        if p.get("numInputRows") and all(e > f for e, f in zip(_offsets(p), first_seq))
    ]
    layer = {
        "generator.lag_ms_p99": max(a["lag_ms_p99"] for n in ("low", "high") for a in phases[n]),
        "generator.sent_frames": float(sum(
            v["n"] for a in run.sends for v in a["per_key"].values()
        )),
        "websocket.lag_frames_p99": pct(paced_lag, 99),
        "microbatch.batches": float(len(in_run)),
        "microbatch.rows_p50": pct([p["numInputRows"] for p in in_run], 50),
    }
    for field, name in (("latestOffset", "latest_offset"), ("getBatch", "get_batch"),
                        ("queryPlanning", "query_planning"), ("addBatch", "add_batch"),
                        ("walCommit", "wal_commit"), ("commitOffsets", "commit_offsets"),
                        ("triggerExecution", "trigger")):
        layer[f"microbatch.{name}_ms"] = pct(
            [p["durationMs"].get(field, 0) for p in in_run], 50
        )
    ops = [op for p in in_run for op in p.get("stateOperators", [])]
    last_ops = in_run[-1].get("stateOperators", []) if in_run else []
    layer["ops.state_rows"] = float(sum(op.get("numRowsTotal", 0) for op in last_ops))
    layer["ops.state_bytes"] = float(sum(op.get("memoryUsedBytes", 0) for op in last_ops))
    layer["ops.rows_dropped_by_watermark"] = float(
        sum(op.get("numRowsDroppedByWatermark", 0) for op in ops)
    )
    for field, name in (("allUpdatesTimeMs", "update_ms"), ("allRemovalsTimeMs", "removal_ms"),
                        ("commitTimeMs", "state_commit_ms")):
        per_batch = [
            sum(op.get(field, 0) for op in p.get("stateOperators", [])) for p in in_run
        ]
        layer[f"ops.{name}"] = pct(per_batch, 50) if ops else 0.0
    return e2e, layer


def add_microbatch_spans(tracer, progress: list[dict], t_ref_us: int, t_ref_perf: float) -> None:
    """Record each data batch as a ``microbatch.trigger`` span with its
    phases as children, on the tracer's clock."""
    def at(us: int) -> float:
        return t_ref_perf + (us - t_ref_us) / 1e6

    for p in progress:
        if not p.get("numInputRows"):
            continue
        start = _epoch_us(p["timestamp"])
        d = p["durationMs"]
        parent = tracer.add("microbatch.trigger", at(start),
                            at(start + d["triggerExecution"] * 1000), batch=p["batchId"])
        # the engine runs these phases in this order within a trigger
        cursor = start
        for field in ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                      "addBatch", "commitOffsets"):
            ms = d.get(field, 0)
            tracer.add(f"microbatch.{field}", at(cursor), at(cursor + ms * 1000), parent)
            cursor += ms * 1000

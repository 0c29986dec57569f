"""Tests of the benchmark itself: ``python -m pytest perfbench -q``."""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import registry  # noqa: E402
import ws  # noqa: E402
from feed import Feed  # noqa: E402
from frames import FAR_LATE_MIN_SEQ, EventFrames, TickFrames  # noqa: E402
from tracing import Tracer  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_generator_frames_round_trip_through_ws_client():
    """A paced send and a burst arrive through ``WsClient`` byte-identical
    to ``frames.py``, including the 8 KiB snapshots (16-bit length)."""
    from ws_to_kafka_spark.sources.ws_client import WsClient

    ticks = TickFrames(5)
    with Feed(5) as feed:
        client = WsClient(feed.url("t/0"))
        client.connect()
        try:
            feed.call({"cmd": "await", "key": "t/0", "gen": 1})
            got = []
            frames = client.frames()
            for n, rate in ((500, 5000.0), (1500, 0.0)):
                cid = feed.submit({"cmd": "send", "keys": ["t/0"], "n": n, "rate": rate})
                got += [next(frames) for _ in range(n)]
                ans = feed.wait(cid)["per_key"]["t/0"]
                expect = [
                    ticks.frame(0, ans["first_seq"] + k, int(due))
                    for k, due in enumerate(ws.due_times(ans))
                ]
                assert got[-n:] == expect
        finally:
            client.close()
    assert any(126 <= len(f) < 1 << 16 and b'"snapshot"' in f for f in got)


def test_event_frames_are_deterministic_and_duplicates_share_events():
    a, b = EventFrames(9), EventFrames(9)
    assert [a.frame(1, s, 7) for s in range(300)] == [b.frame(1, s, 7) for s in range(300)]
    events = [a.event(0, s) for s in range(20_000)]
    ids = [e.event_id for e in events]
    assert len(set(ids)) < len(ids)  # duplicates exist
    assert not any(e.far_late for e in events[:FAR_LATE_MIN_SEQ])
    assert any(e.far_late for e in events)


def test_offsets_map_frames_to_the_batch_that_admitted_them():
    # two feeds; batch 0 admits seq [0, 3) and [0, 2), batch 1 the rest
    progress = [
        {"numInputRows": 5, "timestamp": "2024-01-01T00:00:01.000Z",
         "durationMs": {"triggerExecution": 200},
         "sources": [{"endOffset": '{"feeds":[3,2]}'}]},
        {"numInputRows": 0, "timestamp": "2024-01-01T00:00:01.300Z",
         "durationMs": {"triggerExecution": 50},
         "sources": [{"endOffset": '{"feeds":[3,2]}'}]},
        {"numInputRows": 3, "timestamp": "2024-01-01T00:00:02.000Z",
         "durationMs": {"triggerExecution": 500},
         "sources": [{"endOffset": {"feeds": [4, 4]}}]},
    ]
    ends, commits, starts = ws.batch_table(progress, 2)
    t0 = ws._epoch_us("2024-01-01T00:00:00.000Z")
    assert ends.tolist() == [[3, 2], [4, 4]]
    assert (commits - t0).tolist() == [1_200_000, 2_500_000]
    ans = {"per_key": {
        "e/0": {"first_seq": 0, "n": 4, "t0_us": t0 + 800_000, "rate": 10.0},
        "e/1": {"first_seq": 0, "n": 4, "t0_us": t0 + 800_000, "rate": 0.0},
    }}
    lat = ws.frame_latencies_ms(ans, ("e/0", "e/1"), ends, commits)
    # e/0 frames due at 0.8, 0.9, 1.0, 1.1 s; the first three commit at 1.2 s
    assert lat[:4].tolist() == [400.0, 300.0, 200.0, 1400.0]
    # e/1 is a burst due at 0.8 s: two frames in batch 0, two in batch 2
    assert lat[4:].tolist() == [400.0, 400.0, 1700.0, 1700.0]
    lag = ws.lag_frames([ans], ("e/0", "e/1"), ends, starts)
    # at 1.0 s: e/0 had 3 due, e/1 all 4 -> 7 due, 5 admitted
    assert lag.tolist() == [2, 0]


def test_unadmitted_frame_is_an_error():
    ends = np.array([[2]])
    commits = np.array([10])
    ans = {"per_key": {"t/0": {"first_seq": 0, "n": 3, "t0_us": 0, "rate": 0.0}}}
    with pytest.raises(RuntimeError):
        ws.frame_latencies_ms(ans, ("t/0",), ends, commits)


def test_self_time_subtracts_covered_child_time():
    tr = Tracer("r", enabled=True)
    p = tr.add("parent", 0.0, 10.0)
    tr.add("child", 1.0, 4.0, p)
    tr.add("child", 3.0, 5.0, p)  # overlaps the first child
    s = tr.summary()
    assert s["parent"]["self_s"] == pytest.approx(6.0)
    assert s["child"]["count"] == 2
    assert Tracer("r", enabled=False).summary() == {}


def test_offered_rates_are_frozen_in_benchmark_json():
    why = {w["name"]: w["why"] for w in _spec()["workloads"]}
    for spec in (ws.FORWARD, ws.SHARDED):
        assert (f"offered {spec.rate_low:.0f}/s low, {spec.rate_high:.0f}/s high, "
                f"then {spec.bursts} burst") in why[spec.name]
        assert f"of {spec.burst} frames" in why[spec.name]


def test_metric_names_match_benchmark_json():
    spec = _spec()
    e2e = {m["name"] for m in spec["end_to_end"]}
    layer = {m["name"] for m in spec["per_layer"]}
    assert {w["name"] for w in spec["workloads"]} == {ws.FORWARD.name, ws.SHARDED.name}

    # a minimal synthetic run through stream_metrics
    class _Run:
        spec = ws.FORWARD
        sends = []

    t0 = ws._epoch_us("2024-01-01T00:00:00.000Z")
    phases, progress, seq = {}, [], 0
    for i, name in enumerate(("low", "high", "burst")):
        phases[name] = {"per_key": {"t/0": {"first_seq": seq, "n": 10, "t0_us": t0 + i * 10**6,
                                            "rate": 0.0}},
                        "lag_ms_p99": 1.0}
        seq += 10
        progress.append({
            "numInputRows": 10, "timestamp": f"2024-01-01T00:00:0{i}.500Z",
            "durationMs": {"triggerExecution": 100}, "stateOperators": [],
            "sources": [{"endOffset": {"index": seq}}],
        })
    _Run.sends = list(phases.values())
    phases = {"low": [phases["low"]], "high": [phases["high"]], "bursts": [phases["burst"]]}
    got_e2e, got_layer = ws.stream_metrics(_Run, phases, progress)
    assert set(got_e2e) | {"setup_s", "peak_rss_mb"} == e2e
    assert all(v > 0 for v in got_e2e.values())

    probe_names = {n for n in layer if n.split(".")[0] in
                   ("ws_client", "websocket", "websocket_multi", "feed_proc")}
    probe_names -= set(got_layer)
    registry_names = {
        f"operators.{m}.{k}" for m in registry.QUERIES
        for k in ("build_s", "exec_s", "jobs", "stages", "tasks")
    }
    assert set(got_layer) | probe_names | registry_names | {
        "session.start_s", "host.sentinel_s"} == layer
    import probes

    assert probe_names == set(probes.METRICS)

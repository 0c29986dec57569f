"""In-memory spans for the traced run.

A span records a name, start and end (``perf_counter`` seconds), the
span that was open when it started, and the run id. Spans stay in memory
until :meth:`Tracer.dump`, which writes them with each span name's total
and self time: a span's self time is its duration minus the part of it
that its child spans cover.

With tracing off, :class:`Tracer` hands out a no-op span, so the
untraced run pays one attribute check per call site.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
        }
        if attrs:
            rec["attrs"] = attrs
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int:
        """Record a span measured elsewhere (e.g. a microbatch phase taken
        from Spark's progress report); returns its index for children."""
        if not self.enabled:
            return -1
        rec = {"name": name, "start": start, "end": end, "parent": parent,
               "run": self.run_id}
        if attrs:
            rec["attrs"] = attrs
        self.spans.append(rec)
        return len(self.spans) - 1

    def summary(self) -> dict[str, dict]:
        """Per span name: count, total seconds and self seconds."""
        children: dict[int, list[tuple[float, float]]] = {}
        for rec in self.spans:
            if rec["parent"] is not None and rec["end"] is not None:
                children.setdefault(rec["parent"], []).append((rec["start"], rec["end"]))
        out: dict[str, dict] = {}
        for i, rec in enumerate(self.spans):
            if rec["end"] is None:
                continue
            dur = rec["end"] - rec["start"]
            covered = _union_length(children.get(i, []), rec["start"], rec["end"])
            agg = out.setdefault(rec["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += dur
            agg["self_s"] += dur - covered
        return out

    def dump(self, path: str, extra: dict | None = None) -> None:
        payload = {"run": self.run_id, "spans": self.spans, "summary": self.summary()}
        if extra:
            payload.update(extra)
        with open(path, "w") as fh:
            json.dump(payload, fh)


def _union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total

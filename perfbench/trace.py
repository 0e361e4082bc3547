"""In-memory spans for the traced run.

A span is (id, name, start, end, parent, run id); times are epoch
seconds. Spans stay in memory while the workload runs and are written
out once at the end. A span's layer is its name without the last
dotted part: `streaming.jobs.trigger` belongs to `streaming.jobs`.
"""

from __future__ import annotations

import contextlib
import json
import time
import uuid
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict


class Tracer:
    """Records spans when enabled; a disabled tracer records nothing, so
    the untraced run pays one attribute test per call site."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        """Record a span whose times were measured elsewhere (e.g. read
        from a StreamingQueryProgress); returns its id."""
        if not self.enabled:
            return -1
        if parent is None and self._stack:
            parent = self._stack[-1]
        sid = len(self.spans)
        self.spans.append(Span(sid, name, start, end, parent, self.run_id, attrs))
        return sid

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = self.add(name, time.time(), 0.0, **attrs)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid].end = time.time()

    def self_times(self) -> dict[str, float]:
        """Seconds per layer not covered by the span's own children."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered = _union_length(
                [(max(c.start, s.start), min(c.end, s.end)) for c in children[s.id]]
            )
            out[layer_of(s.name)] += max(s.end - s.start - covered, 0.0)
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def layer_of(name: str) -> str:
    return name.rsplit(".", 1)[0] if "." in name else name


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total

"""Spans recorded at the layer boundaries of a traced run.

A span has a name, a start, an end (epoch seconds), the span that caused
it, and the id of the query run (or set-up) it belongs to. Spans stay in
memory and are written out when the run ends. A layer's self time is its
span's duration minus the part of it that its child spans cover."""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import asdict, dataclass


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals; empty ones
    (``end <= start``) count for nothing."""
    total, reach = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > max(a, reach):
            total += b - max(a, reach)
            reach = b
    return total


@dataclass
class Span:
    id: int
    trace: str
    name: str
    start: float
    end: float
    parent: int | None


class Trace:
    def __init__(self):
        self.spans: list[Span] = []

    def add(self, trace: str, name: str, start: float, end: float,
            parent: int | None = None) -> int:
        self.spans.append(Span(len(self.spans), trace, name, start, end,
                               parent))
        return len(self.spans) - 1

    def self_s(self) -> dict[str, float]:
        """Self time summed per span name. Span names carrying an id
        (``job 12``) are summed under their first word."""
        kids = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered = union_s([(max(c.start, s.start), min(c.end, s.end))
                               for c in kids[s.id]])
            out[s.name.split()[0]] += max(0.0, s.end - s.start - covered)
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       "self_s": self.self_s()}, f)

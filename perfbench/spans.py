"""In-memory spans for the traced run.

A span has a name, start and end (epoch seconds), a parent and the run id.
Spans are kept in a list and written once, at exit, with the self time of
each span: its duration minus the part of it that its children cover.
Children may overlap (concurrent Spark stages), so coverage is the length of
the union of the child intervals, clipped to the parent.
"""

from __future__ import annotations

import json


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        """Record a finished span and return its id."""
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                           "parent": parent, "run": self.run_id, **attrs})
        return sid

    def extend(self, spans: list[dict], parent) -> None:
        """Graft all the spans of another Tracer (a subprocess's), renumbered
        after the spans already held; each of their roots goes under
        ``parent(root)``."""
        base = len(self.spans)
        for s in spans:
            up = parent(s) if s["parent"] is None else s["parent"] + base
            self.spans.append(dict(s, id=s["id"] + base, run=self.run_id,
                                   parent=up))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(with_self_time(self.spans), f)


def covered(start: float, end: float, intervals) -> float:
    """Length of the union of ``intervals`` inside [start, end]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
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


def with_self_time(spans: list[dict]) -> list[dict]:
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for s in spans:
        dur = s["end"] - s["start"]
        self_t = dur - covered(s["start"], s["end"], children.get(s["id"], ()))
        out.append(dict(s, duration=dur, self_time=self_t))
    return out

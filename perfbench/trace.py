"""In-memory spans for the traced run.

A span is (id, name, start, end, parent id, group): the group ties together
the spans of one message batch or one panel query. Spans are recorded from
the benchmark's side of each layer boundary, kept in a list, and written
out once at the end. A span's self time is its duration minus the part of
it that its child spans cover.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, group: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "name": name, "start": time.time(), "end": None,
                 "parent": parent, "group": group}
            )
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            self.spans[sid]["end"] = time.time()

    def add(self, name: str, start: float, end: float, group: str | None = None) -> None:
        """Record a span measured elsewhere (Spark's own progress timings)."""
        if not self.enabled:
            return
        with self._lock:
            self.spans.append(
                {"id": len(self.spans), "name": name, "start": start, "end": end,
                 "parent": None, "group": group}
            )

    def durations(self, name: str, group: str | None = None) -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and (group is None or s["group"] == group)
        ]

    def self_times(self) -> list[float]:
        """Per span: duration minus the union of its children's intervals."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for s in self.spans:
            covered, reach = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, reach), min(b, s["end"])
                if b > a:
                    covered += b - a
                    reach = b
            out.append(s["end"] - s["start"] - covered)
        return out

    def self_by_name(self) -> dict[str, float]:
        totals: dict[str, float] = {}
        for s, own in zip(self.spans, self.self_times()):
            totals[s["name"]] = totals.get(s["name"], 0.0) + own
        return totals

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(
                {
                    **extra,
                    "self_s_by_name": self.self_by_name(),
                    "spans": [
                        {**s, "self_s": own} for s, own in zip(self.spans, self.self_times())
                    ],
                },
                f,
            )


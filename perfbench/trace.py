"""In-memory spans recorded around calls into the engine's layers.

A span is (name, start, end, parent, op): ``parent`` is the index of the
enclosing span, ``op`` the operation it belongs to. Spans stay in memory
until the run ends; ``dump`` writes them as JSON lines. A disabled
tracer records nothing and costs one attribute check per span.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.op = 0

    def new_op(self) -> int:
        self.op += 1
        return self.op

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = [name, time.perf_counter(), None, parent, self.op]
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s[2] - s[1] for s in self.spans if s[0] == name and s[2] is not None]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of it
        that child spans cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s[3] is not None and s[2] is not None:
                child[s[3]] = child.get(s[3], 0.0) + (s[2] - s[1])
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s[2] is not None:
                out[s[0]] = out.get(s[0], 0.0) + (s[2] - s[1]) - child.get(i, 0.0)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for name, start, end, parent, op in self.spans:
                f.write(json.dumps({"name": name, "start": start, "end": end,
                                    "parent": parent, "op": op}) + "\n")

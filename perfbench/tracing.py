"""In-memory spans recorded around the calls the benchmark makes into each
layer. A span has a name, a layer, wall-clock start and end (epoch seconds,
comparable with the Spark event log's millisecond timestamps), the span
that caused it, and optionally the micro-batch or query it belongs to.
Nothing is written until the run ends."""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Records spans when enabled; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, layer: str, parent: int | None = None, **attrs):
        """Record ``name`` around the block. ``parent`` defaults to the
        innermost open span of the calling thread; pass it explicitly from a
        callback thread (the micro-batch handler runs on one)."""
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = {
            "id": sid,
            "parent": parent if parent is not None else (stack[-1] if stack else None),
            "name": name,
            "layer": layer,
            "start": time.time(),
            **attrs,
        }
        stack.append(sid)
        try:
            yield sid
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f, indent=1)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval that its child
    spans cover (children may overlap each other; the union is taken)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out

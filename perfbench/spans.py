"""In-memory span recorder for the traced benchmark run.

A span is (name, start_ns, end_ns, parent, run_id).  Spans are kept in
a list and written out once, when the run ends.  A layer's self time is
the time its spans cover minus the part their child spans cover.
With `enabled=False` every call is a no-op, so the untraced run measures
the program without the recorder.
"""

from __future__ import annotations

import contextlib
import threading
import time


class Tracer:
    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Record `name` around the body.  `parent` names the causing span
        when the body runs on another thread (foreachBatch callbacks run
        on the Py4J callback thread, not the thread that started the
        query)."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        idx = len(self.spans)
        rec = {"name": name, "start_ns": time.perf_counter_ns(), "end_ns": None,
               "parent": parent, "run_id": self.run_id}
        if attrs:
            rec["attrs"] = attrs
        self.spans.append(rec)
        stack.append(idx)
        try:
            yield idx
        finally:
            stack.pop()
            rec["end_ns"] = time.perf_counter_ns()

    def self_ms_by_layer(self) -> dict[str, float]:
        """Self time per layer (the span name's first dotted part)."""
        child_ns = [0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end_ns"] is not None:
                child_ns[s["parent"]] += s["end_ns"] - s["start_ns"]
        out: dict[str, float] = {}
        for s, kids in zip(self.spans, child_ns):
            if s["end_ns"] is None:
                continue
            layer = s["name"].split(".", 1)[0]
            own = max(0, s["end_ns"] - s["start_ns"] - kids)
            out[layer] = out.get(layer, 0.0) + own / 1e6
        return out

    def cost_per_span_ns(self, n: int = 2000) -> float:
        """Measured cost of recording one span, on a throwaway tracer."""
        probe = Tracer(True, "calibration")
        t0 = time.perf_counter_ns()
        for _ in range(n):
            with probe.span("x"):
                pass
        return (time.perf_counter_ns() - t0) / n

"""In-memory spans recorded from the benchmark's own files.

A span has a name, start, end, parent and the trace id of the job, query or
probe that caused it.  ``wrap`` times calls into a module's public function
by replacing the module attribute the caller looks up; ``restore`` puts the
originals back.  Spans are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import time
from collections import defaultdict


def span(tracer, name: str):
    """``tracer.span(name)``, or nothing when the run is not traced."""
    return contextlib.nullcontext() if tracer is None else tracer.span(name)


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.trace_id = ""
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "trace": self.trace_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, module, attr: str, name: str) -> None:
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(module, attr, traced)
        self._patched.append((module, attr, original))

    def restore(self) -> None:
        while self._patched:
            module, attr, original = self._patched.pop()
            setattr(module, attr, original)

    def self_times(self, trace_prefix: str = "") -> dict[str, float]:
        """Total self time per span name: duration minus the time its child
        spans cover (children never overlap: one thread records them)."""
        child = [0.0] * len(self.spans)
        for rec in self.spans:
            if rec["parent"] is not None and "end" in rec:
                child[rec["parent"]] += rec["end"] - rec["start"]
        out: dict[str, float] = defaultdict(float)
        for i, rec in enumerate(self.spans):
            if "end" in rec and rec["trace"].startswith(trace_prefix):
                out[rec["name"]] += rec["end"] - rec["start"] - child[i]
        return dict(out)

    def dump(self) -> dict:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        return {
            "spans": [
                {
                    "id": i,
                    "name": r["name"],
                    "trace": r["trace"],
                    "parent": r["parent"],
                    "start_s": r["start"] - t0,
                    "end_s": r.get("end", r["start"]) - t0,
                }
                for i, r in enumerate(self.spans)
            ],
        }
